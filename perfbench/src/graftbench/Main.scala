package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Command-line settings of one benchmark run (see perfbench/README.md). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, outDir: Path, cores: Int)

/** What a run reports: operations attempted/failed and named metrics. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  /** Count one operation; a failed one also counts as attempted. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
  /** The result line, with the metrics `names` in that order. */
  def json(names: Seq[String]): String = {
    val ms = names.map { k =>
      val (v, u) = metrics(k)
      s""""$k": {"value": ${Main.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

/** Timing helpers shared by the workloads. */
object Clock {
  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the `inclusive` method of Python's
    * statistics.quantiles). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}

object Main {
  val WorkloadNames: Seq[String] = Seq("catchup", "tail", "serve", "sinkop")

  /** End-to-end metrics every workload prints with tracing off. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "apply_eps" -> "events/s",
    "bytes_per_live_row" -> "B", "latency_p50_s" -> "s")

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.math.BigDecimal.valueOf(v).toPlainString
  }

  def session(cores: Int, work: Path): SparkSession = {
    // the settings of the `graft.Main` CLI session, with scratch kept in the
    // run's own directory
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Progress note on stderr, stamped with seconds since JVM start. */
  def phase(what: String): Unit = System.err.println(f"[phase] ${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%7.2f s $what")

  /** Peak resident set size of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Bytes under a directory tree. */
  def dirBytes(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val w = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    } finally w.close()
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}") }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(WorkloadNames.contains(w), s"unknown workload $w (one of ${WorkloadNames.mkString(", ")})")
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be at least 1")
    Args(w, need("seed").toLong, secs, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")), need("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selftest")) {
      SelfTest.run(Paths.get(argv(1)))
      return
    }
    val a = parse(argv)
    Files.createDirectories(a.work)
    Files.createDirectories(a.outDir)
    val r = new Result
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}")
    a.workload match {
      case "catchup" => Workloads.catchup(a, r, tracer)
      case "tail" => Workloads.tail(a, r, tracer)
      case "serve" => Workloads.serve(a, r, tracer)
      case "sinkop" => Workloads.sinkop(a, r, tracer)
    }
    if (a.trace) {
      tracer.writeSpans(a.outDir.resolve(s"spans-${a.workload}-${a.seed}.json"))
      EndToEnd.foreach { case (n, _) => r.metrics.get(n).foreach(v => r.metrics(s"trace.$n") = v) }
    }
    val names = (if (a.trace) Tracer.PerLayer else EndToEnd).map(_._1)
    val missing = names.filterNot(r.metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    phase("checked")
    println(r.json(names))
  }
}
