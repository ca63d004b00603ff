package graftbench

import graft.changelog.{ChangelogCodec, ChangelogGenerator, ChangelogSpec}
import graft.core.Types
import graft.lake.{FileEntry, LakeTable}
import graft.merge.{MergeInto, SinkOpState}
import graft.oracle.ReferenceOracle
import graft.streaming.{Bootstrap, CdcPipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The four workloads. Each one: set up (timed as `setup_s`), run its timed
  * loop for `--seconds`, then check every output against an oracle outside
  * the timed region. Sizes are fixed here so that every run of a workload
  * does the same amount of work per operation; the seed changes the data. */
object Workloads {
  /** Set-up repetitions; `setup_s` reports the median one. */
  val SetupReps = 3
  /** Table buckets: the `graft.Main init` default. */
  val Buckets = 32

  // catchup: whole changelog replays, batch by batch
  val CatchupEvents = 80000L
  val CatchupChunk = 20000L
  // tail: open-loop publication of small changelog chunks
  val TailChunkEvents = 500L
  val TailChunksPerSec = 1.5
  val TailLimitS = 10.0
  // serve: bootstrap + paced writer beside one closed-loop reader
  val ServeConversations = 2000
  val ServeBuckets = 8
  val ServeBaseEvents = 10000L
  val ServeBatchEvents = 2000L
  val ServeWriterPeriodMs = 3000L
  val ServeScanEvery = 10
  // sinkop: keyed-store op epochs onto a growing state table
  val SinkopOpsPerEpoch = 3000
  val SinkopKeys = 400

  private def wire(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(Types.changeEventWireSchema).parquet(files: _*)

  private def decoded(spark: SparkSession, files: Seq[String]): DataFrame =
    ChangelogCodec.decode(wire(spark, files), Types.transcriptSchemaV2)

  private def parquetFiles(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  /** Changelog files grouped by chunk (`c<chunk>-*.parquet`), chunks at
    * or past `n - 1` merged into the last group. */
  private def chunkBatches(dir: Path, n: Int): Seq[Seq[String]] =
    parquetFiles(dir).groupBy { f =>
      val name = f.substring(f.lastIndexOf('/') + 2)
      math.min(name.takeWhile(_ != '-').toInt, n - 1)
    }.toSeq.sortBy(_._1).map(_._2)

  private def rm(p: Path): Unit = ChangelogGenerator.deleteRecursively(p)

  private def newTable(spark: SparkSession, dir: Path, buckets: Int = Buckets): LakeTable = {
    rm(dir)
    LakeTable.create(spark, dir.toString, Types.transcriptSchemaV0,
      Types.transcriptKey, Seq("conv_id"), buckets)
  }

  /** Seconds from JVM start until now. */
  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Run a set-up step [[SetupReps]] times; the last result with the
    * median time. */
  private def repeated[T](step: Int => T): (T, Double) = {
    val runs = (0 until SetupReps).map(i => Clock.secs(step(i)))
    (runs.last._1, Clock.median(runs.map(_._2)))
  }

  private def checkTable(r: Result, label: String, expected: Oracles.State,
      table: LakeTable): Unit = {
    val problems = Oracles.tableProblems(expected,
      ReferenceOracle.actualState(table.snapshot(), Types.transcriptKey))
    problems.foreach(p => System.err.println(s"[check] $label: $p"))
    r.op(problems.isEmpty)
  }

  private def bytesPerLiveRow(table: LakeTable, liveRows: Long): Double =
    Main.dirBytes(table.root) / math.max(1L, liveRows).toDouble

  /** Commits of a table after version `from`, read back from its public
    * metadata: per commit the operation, the files it added and its
    * metadata-file size. */
  final case class Commit(version: Int, op: String, offset: Long, tsMs: Long,
      added: Seq[FileEntry], addedBytes: Long, metaBytes: Long)

  def commitsAfter(table: LakeTable, from: Int): Seq[Commit] = {
    val to = table.refresh().version
    var prev = table.metaAt(from).files.toSet
    (from + 1 to to).map { v =>
      val m = table.metaAt(v)
      val added = m.files.filterNot(prev.contains)
      prev = m.files.toSet
      val ci = m.history.last
      Commit(v, ci.operation, ci.offset, ci.tsMillis, added,
        added.map(f => Files.size(table.root.resolve(f.path))).sum,
        Files.size(table.root.resolve("meta").resolve(f"v$v%08d.json")))
    }
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def p(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else Clock.quantile(xs, q)

  /** Per-layer metrics every traced run prints, zero-filled, so a workload
    * only sets the layers it exercises. */
  private def zeroLayers(r: Result): Unit =
    Tracer.PerLayer.foreach { case (n, u) => if (!n.startsWith("trace.")) r.put(n, 0.0, u) }

  /** Commit-derived layer metrics over the timed window. */
  private def commitLayers(r: Result, commits: Seq[Commit], events: Long, liveRows: Long,
      table: LakeTable): Unit = {
    val merges = commits.filter(_.op.startsWith("merge"))
    val compacts = commits.filter(_.op.startsWith("compact"))
    val rowsWritten = merges.flatMap(_.added).map(_.rows).sum
    r.put("merge.files_per_commit", mean(merges.map(_.added.size.toDouble)), "count")
    r.put("merge.bytes_written_per_event", merges.map(_.addedBytes).sum / math.max(1L, events).toDouble, "B")
    r.put("merge.live_rows_per_written_row", liveRows / math.max(1L, rowsWritten).toDouble, "ratio")
    r.put("merge.compactions", compacts.size.toDouble, "count")
    r.put("merge.compact_bytes_rewritten", compacts.map(_.addedBytes).sum.toDouble, "B")
    r.put("lake.commits", commits.size.toDouble, "count")
    r.put("lake.meta_bytes_per_commit", mean(commits.map(_.metaBytes.toDouble)), "B")
    r.put("lake.manifest_files", table.refresh().files.size.toDouble, "count")
  }

  /** Stage-derived merge metrics for a set of apply calls. */
  private def stageLayers(r: Result, tr: Tracer, calls: Seq[Span], events: Long): Unit = {
    val per = calls.map { s =>
      val st = tr.stagesOf(tr.jobsOf(s))
      (st.filter(_.shuffleWriteBytes > 0), st.filter(_.outputBytes > 0), st)
    }
    def dur(xs: Seq[StageRec]) = xs.map(x => (x.endMs - x.startMs) / 1e3).sum
    r.put("merge.map_stage_s", mean(per.map(x => dur(x._1))), "s")
    r.put("merge.write_stage_s", mean(per.map(x => dur(x._2))), "s")
    r.put("merge.shuffle_write_bytes_per_event",
      per.flatMap(_._1).map(_.shuffleWriteBytes).sum / math.max(1L, events).toDouble, "B")
    r.put("merge.spill_bytes", per.flatMap(_._3).map(_.spillBytes).sum.toDouble, "B")
    r.put("merge.tasks_per_batch", mean(per.map(_._3.map(_.numTasks.toDouble).sum)), "count")
    r.put("changelog.wire_bytes_per_event",
      per.flatMap(_._1).map(_.inputBytes).sum / math.max(1L, events).toDouble, "B")
    r.put("merge.driver_s", mean(calls.map(tr.driverSecs)), "s")
    r.put("merge.plan_s", mean(calls.map(tr.planSecs)), "s")
    r.put("merge.codegen_compiles", mean(calls.map(_.attrs.getOrElse("codegen_compiles", 0.0))), "count")
    r.put("merge.codegen_compile_s", mean(calls.map(_.attrs.getOrElse("codegen_compile_s", 0.0))), "s")
    r.put("streaming.apply_batch_p50_s", p(calls.map(_.secs), 0.5), "s")
    r.put("streaming.apply_batch_p90_s", p(calls.map(_.secs), 0.9), "s")
    r.put("streaming.events_per_batch", mean(calls.map(_.attrs.getOrElse("events", 0.0))), "count")
  }

  private def compactSecs(tr: Tracer): Double = {
    val js = tr.synchronized(tr.jobs.values.filter(j => j.compaction && j.endMs >= 0).toSeq)
    if (js.isEmpty) 0.0
    else tr.covered(js.map(j => (j.startMs, j.endMs)), js.map(_.startMs).min, js.map(_.endMs).max)
  }

  private def finish(r: Result, setupS: Double, applyEps: Double, bytesPerRow: Double,
      latencyP50: Double): Unit = {
    r.put("setup_s", setupS, "s")
    r.put("peak_rss_mb", Main.peakRssMb(), "MB")
    r.put("apply_eps", applyEps, "events/s")
    r.put("bytes_per_live_row", bytesPerRow, "B")
    r.put("latency_p50_s", latencyP50, "s")
  }

  // =================================================================== catchup

  /** Replay a seeded changelog batch by batch through
    * `CdcPipeline.applyBatch` at local[cores] with async compaction off,
    * into fresh tables, until `--seconds` are spent. The traced run replays
    * the same log at local[1] for as long again, for the scaling figures. */
  def catchup(a: Args, r: Result, tr: Tracer): Unit = {
    var spark = Main.session(a.cores, a.work)
    tr.attach(spark)
    val toSession = sinceJvmStart()
    val spec = ChangelogSpec(seed = a.seed, nEvents = CatchupEvents,
      nConversations = (CatchupEvents / 50).toInt, chunkSize = CatchupChunk)
    val logDir = a.work.resolve("log")
    val (_, genS) = Clock.secs(ChangelogGenerator.write(spark, spec, logDir.toString))
    val cfg = CdcPipeline.Config(logDir.toString, "", autoCompactMinRows = Long.MaxValue)
    // one batch per chunk; the trailing chunks that hold only replayed
    // duplicates ride in the last batch, so every batch is full-size
    val batches = chunkBatches(logDir, (CatchupEvents / CatchupChunk).toInt)
    val batchEvents = batches.map(fs => wire(spark, fs).count())

    // the repeated step: the log's first batch applied to a throwaway table,
    // so the timed passes start with the apply path compiled and JIT-warm
    def warm(s: SparkSession, tag: String): Unit =
      CdcPipeline.applyBatch(newTable(s, a.work.resolve(s"warm-$tag")), wire(s, batches.head), 0L, cfg)
    val (_, warmS) = repeated(_ => warm(spark, "n"))
    val setupS = toSession + genS + warmS
    Main.phase(s"set up (session $toSession s, inputs $genS s, warm-up $warmS s)")

    /** Replay passes for `budget` seconds: (events, apply secs, their
      * ratio, batch secs, last table, its first version). */
    def level(s: SparkSession, tag: String, budget: Double) = {
      var events = 0L; var secs = 0.0
      val perBatch = mutable.ArrayBuffer[Double]()
      val passEps = mutable.ArrayBuffer[Double]()
      var pass = 0
      var last: LakeTable = null
      var v0 = 0
      while (pass == 0 || secs < budget) {
        val t = newTable(s, a.work.resolve(s"t-$tag-${pass % 2}"))
        v0 = t.meta.version
        tr.span("pass") {
          batches.zip(batchEvents).zipWithIndex.foreach { case ((files, n), epoch) =>
            val w = wire(s, files)
            if (tr.on) tr.span("decode")(ChangelogCodec.decode(w, Types.transcriptSchemaV2)
              .write.format("noop").mode("overwrite").save())
            val (res, dt) = Clock.secs(tr.span("batch") {
              tr.count("events", n.toDouble)
              CdcPipeline.applyBatch(t, w, epoch.toLong, cfg)
            })
            r.op(!res.skipped)
            events += n; secs += dt; perBatch += dt
          }
        }
        passEps += batchEvents.sum / perBatch.takeRight(batches.size).sum
        Main.phase(f"$tag pass $pass: ${passEps.last}%.0f events/s")
        last = t
        pass += 1
      }
      (events, secs, events / secs, perBatch.toSeq, last, v0)
    }

    val (evN, secsN, epsN, perBatchN, tableN, v0N) = level(spark, "n", a.seconds)
    Main.phase(s"local[${a.cores}] replayed $evN events in $secsN s")
    val expected = ReferenceOracle.expectedState(decoded(spark, batches.flatten), Types.transcriptKey)
    checkTable(r, s"local[${a.cores}]", expected, tableN)
    val liveRows = tableN.snapshot().count()
    finish(r, setupS, epsN, bytesPerLiveRow(tableN, liveRows), Clock.median(perBatchN))
    tr.settle()
    if (tr.on) {
      zeroLayers(r)
      val calls = tr.named("batch")
      stageLayers(r, tr, calls, calls.map(_.attrs.getOrElse("events", 0.0)).sum.toLong)
      r.put("changelog.decode_s", mean(tr.named("decode").map(_.secs)), "s")
      commitLayers(r, commitsAfter(tableN, v0N), batchEvents.sum, liveRows, tableN)
      r.put("workload.samples", perBatchN.size.toDouble, "count")

      spark.stop()
      spark = Main.session(1, a.work)
      warm(spark, "1")
      val (ev1, secs1, eps1, _, table1, _) = level(spark, "1", a.seconds)
      Main.phase(s"local[1] replayed $ev1 events in $secs1 s")
      checkTable(r, "local[1]", expected, table1)
      r.put("workload.apply_eps_1core", eps1, "events/s")
      r.put("workload.scaling_eff", epsN / (a.cores * eps1), "ratio")
    }
    spark.stop()
  }

  // ====================================================================== tail

  /** Open loop: pre-generated chunks are published into the watched
    * changelog directory on a fixed schedule while `CdcPipeline.start` runs
    * with the CLI `run` defaults. Freshness of a chunk = from when it was due
    * until the first commit whose offset covers its last position. */
  def tail(a: Args, r: Result, tr: Tracer): Unit = {
    val spark = Main.session(a.cores, a.work)
    tr.attach(spark)
    val toSession = sinceJvmStart()
    val nChunks = SetupReps + math.ceil(a.seconds * TailChunksPerSec).toInt
    val spec = ChangelogSpec(seed = a.seed, nEvents = nChunks * TailChunkEvents,
      nConversations = 2000, chunkSize = TailChunkEvents, filesPerChunk = 1)
    val stage = a.work.resolve("stage")
    val (_, genS) = Clock.secs(ChangelogGenerator.write(spark, spec, stage.toString))
    val files = parquetFiles(stage)
    val (fileMaxPos, fileEvents) = {
      val stats = wire(spark, files).groupBy(input_file_name().as("f"))
        .agg(max("pos"), count(lit(1))).collect()
        .map(x => java.net.URI.create(x.getString(0)).getPath -> (x.getLong(1), x.getLong(2))).toMap
      (files.map(f => stats(f)._1), files.map(f => stats(f)._2))
    }
    val expected = ReferenceOracle.expectedState(decoded(spark, files), Types.transcriptKey)

    val logDir = a.work.resolve("log")
    Files.createDirectories(logDir)
    val table = newTable(spark, a.work.resolve("table"))
    val committed = new java.util.concurrent.atomic.AtomicLong(0L)
    val batches = mutable.ArrayBuffer[(Long, Double)]() // (rows, addBatch s) of timed batches
    @volatile var timing = false
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val n = e.progress.numInputRows
        committed.addAndGet(n)
        val add = Option(e.progress.durationMs.get("addBatch")).map(_.doubleValue() / 1e3)
        if (timing && n > 0) batches.synchronized { batches += ((n, add.getOrElse(0.0))) }
      }
    })
    def publish(i: Int): Unit = {
      val src = Path.of(files(i))
      src.toFile.setLastModified(System.currentTimeMillis())
      Files.createLink(logDir.resolve(src.getFileName), src)
    }
    def awaitOffset(pos: Long, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (table.refresh().lastOffset < pos && System.currentTimeMillis() < deadline) Thread.sleep(20)
      table.meta.lastOffset >= pos
    }
    val cp = a.work.resolve("cp").toString
    val (q, startS) = Clock.secs(tr.span("stream") {
      CdcPipeline.start(spark, table, CdcPipeline.Config(logDir.toString, cp))
    })
    // the repeated step: publish one warm-up chunk and wait until it is visible
    val nWarm = SetupReps
    var warmed = 0
    val (warmOk, warmS) = repeated { _ =>
      publish(warmed)
      warmed += 1
      awaitOffset(fileMaxPos.take(warmed).max, 60000L)
    }
    require(warmOk, "tail warm-up chunks never became visible")
    val setupS = toSession + genS + startS + warmS
    Main.phase(s"set up (session $toSession s, inputs $genS s, start $startS s, warm-up $warmS s)")
    val v0 = table.refresh().version

    // the generator thread: chunk i is due at t0 + i/rate
    val timed = (nWarm until files.size).toIndexedSeq
    val periodMs = 1000.0 / TailChunksPerSec
    val due = new Array[Long](files.size)
    val lateMs = mutable.ArrayBuffer[Double]()
    val backlog = mutable.ArrayBuffer[Double]()
    var publishedEvents = fileEvents.take(nWarm).sum
    timing = true
    val cg0 = Tracer.codegen()
    val t0 = System.currentTimeMillis() + 50L
    val windowEnd = t0 + a.seconds * 1000L
    val gen = new Thread(() => {
      timed.zipWithIndex.foreach { case (i, k) =>
        due(i) = t0 + (k * periodMs).toLong
        if (due(i) < windowEnd) {
          val wait = due(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          publish(i)
          lateMs += (System.currentTimeMillis() - due(i)).toDouble
          publishedEvents += fileEvents(i)
          backlog += (publishedEvents - committed.get()).toDouble
        }
      }
    }, "graftbench-generator")
    gen.start()
    gen.join()
    val published = timed.filter(i => due(i) < windowEnd)
    val drained = awaitOffset(fileMaxPos.take(nWarm + published.size).max,
      (TailLimitS * 4 * 1000).toLong)
    timing = false
    val cg1 = Tracer.codegen()
    q.stop()
    q.awaitTermination(30000L)
    MergeInto.awaitCompaction()
    if (!drained) System.err.println("[check] tail: backlog never drained")

    Main.phase(s"published ${published.size} chunks, drained=$drained")
    val commits = commitsAfter(table, v0)
    val fresh = published.map { i =>
      commits.find(_.offset >= fileMaxPos(i)).map(c => (c.tsMs - due(i)) / 1e3)
    }
    fresh.foreach(f => r.op(f.exists(_ <= TailLimitS)))
    val visible = fresh.flatten
    // the final table holds every published chunk and nothing else
    val publishedFiles = files.take(nWarm) ++ published.map(files)
    val expectedNow = if (publishedFiles.size == files.size) expected
      else ReferenceOracle.expectedState(decoded(spark, publishedFiles), Types.transcriptKey)
    checkTable(r, "tail", expectedNow, table)
    val liveRows = table.snapshot().count()
    val bs = batches.synchronized(batches.toSeq)
    val applyEps = bs.map(_._1).sum / math.max(1e-9, bs.map(_._2).sum)
    finish(r, setupS, applyEps, bytesPerLiveRow(table, liveRows),
      if (visible.isEmpty) TailLimitS * 10 else Clock.median(visible))
    tr.settle()
    if (tr.on) {
      zeroLayers(r)
      val timedBatches = tr.synchronized(tr.progress.toSeq)
        .takeRight(math.max(1, bs.size))
      r.put("streaming.trigger_s", p(timedBatches.map(_._2 / 1e3), 0.5), "s")
      r.put("streaming.add_batch_s", p(timedBatches.map(_._3 / 1e3), 0.5), "s")
      r.put("streaming.overhead_s", p(timedBatches.map(b => (b._2 - b._3) / 1e3), 0.5), "s")
      r.put("streaming.events_per_batch", mean(timedBatches.map(_._1.toDouble)), "count")
      r.put("streaming.backlog_events", p(backlog.toSeq, 0.9), "count")
      r.put("streaming.gen_late_ms", p(lateMs.toSeq, 0.9), "ms")
      r.put("workload.fresh_p50_s", p(visible, 0.5), "s")
      r.put("workload.fresh_p90_s", p(visible, 0.9), "s")
      r.put("workload.samples", visible.size.toDouble, "count")
      val events = published.map(fileEvents).sum
      streamLayers(r, tr, t0, bs.size, events)
      r.put("merge.codegen_compiles", (cg1._1 - cg0._1).toDouble / math.max(1, bs.size), "count")
      r.put("merge.codegen_compile_s", (cg1._2 - cg0._2) / 1e9 / math.max(1, bs.size), "s")
      commitLayers(r, commits, events, liveRows, table)
    }
    spark.stop()
  }

  /** Merge-stage metrics of the streaming batches that started after `t0`:
    * their jobs carry Spark's own streaming batch id. */
  private def streamLayers(r: Result, tr: Tracer, t0: Long, nBatches: Int, events: Long): Unit = {
    val jobs = tr.synchronized(tr.jobs.values.filter(j => j.startMs >= t0 && !j.compaction).toSeq)
    val st = tr.stagesOf(jobs)
    val n = math.max(1, nBatches)
    def dur(xs: Seq[StageRec]) = xs.map(x => (x.endMs - x.startMs) / 1e3).sum
    val maps = st.filter(_.shuffleWriteBytes > 0)
    r.put("merge.map_stage_s", dur(maps) / n, "s")
    r.put("merge.write_stage_s", dur(st.filter(_.outputBytes > 0)) / n, "s")
    r.put("merge.shuffle_write_bytes_per_event", maps.map(_.shuffleWriteBytes).sum / math.max(1L, events).toDouble, "B")
    r.put("merge.spill_bytes", st.map(_.spillBytes).sum.toDouble, "B")
    r.put("merge.tasks_per_batch", st.map(_.numTasks).sum.toDouble / n, "count")
    r.put("changelog.wire_bytes_per_event", maps.map(_.inputBytes).sum / math.max(1L, events).toDouble, "B")
    val execs = jobs.map(_.execId).toSet
    r.put("merge.plan_s", tr.synchronized(tr.plans.filter(x => execs.contains(x._1)).map(_._2).sum) / 1e3 / n, "s")
    val progress = tr.synchronized(tr.progress.toSeq).takeRight(n)
    val jobSecs = tr.covered(jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)),
      t0, Long.MaxValue)
    r.put("merge.driver_s", math.max(0.0, progress.map(_._3 / 1e3).sum - jobSecs) / n, "s")
    r.put("merge.compact_s", compactSecs(tr), "s")
  }

  // ===================================================================== serve

  /** Reads beside writes: a table bootstrapped with COW base files, a paced
    * writer applying changelog batches (default auto-compaction), and one
    * closed-loop reader fetching whole conversations through
    * `format("graft")` with every k-th request a full-table aggregate. */
  def serve(a: Args, r: Result, tr: Tracer): Unit = {
    val spark = Main.session(a.cores, a.work)
    tr.attach(spark)
    val toSession = sinceJvmStart()
    val nBatches = math.ceil(a.seconds * 1000.0 / ServeWriterPeriodMs).toInt + 2
    val baseSpec = ChangelogSpec(seed = a.seed + 7, nEvents = ServeBaseEvents,
      nConversations = ServeConversations, insertPct = 100, updatePct = 0,
      dupEvery = 0L, schemaEvolution = false, zeroTsOneIn = Int.MaxValue)
    val logSpec = ChangelogSpec(seed = a.seed, nEvents = nBatches * ServeBatchEvents,
      nConversations = ServeConversations, chunkSize = ServeBatchEvents)
    def baseRows(s: SparkSession): DataFrame = {
      val ev = ChangelogCodec.decode(ChangelogGenerator.events(s, baseSpec), Types.transcriptSchemaV0)
      ev.groupBy("conv_id", "turn_idx")
        .agg(max_by(struct(Types.transcriptSchemaV0.fieldNames.map(col).toIndexedSeq: _*), col("_pos")).as("r"))
        .select("r.*")
    }
    val logDir = a.work.resolve("log")
    val (_, genS) = Clock.secs(ChangelogGenerator.write(spark, logSpec, logDir.toString))
    val (table, bootS) = Clock.secs {
      val t = newTable(spark, a.work.resolve("table"), ServeBuckets)
      Bootstrap.run(t, baseRows(spark))
      t
    }
    val batchFiles = chunkBatches(logDir, nBatches)
    val batchEvents = batchFiles.map(fs => wire(spark, fs).count())
    val base = baseRows(spark).select(
      (Seq(lit(Types.OpInsert).as("_op"), lit(-1L).as("_pos"), lit(null).cast("timestamp").as("_event_ts"),
        lit(0).as("_schema_id")) ++ Types.transcriptSchemaV2.fieldNames.toSeq.map(c =>
        if (c == "lang") lit(null).cast("string").as(c) else col(c).cast(
          Types.transcriptSchemaV2(c).dataType).as(c))): _*)
    val hotN = math.max(1, ServeConversations / 100)
    val cfg = CdcPipeline.Config(logDir.toString, "")
    val tableDir = table.root.toString
    def lookup(conv: String): Seq[(Long, String)] =
      spark.read.format("graft").load(tableDir).where(col("conv_id") === conv)
        .orderBy("turn_idx").select("turn_idx", "text").collect().toSeq
        .map(x => (x.getAs[Number](0).longValue(), x.getString(1)))
    def scan(): (Long, Long) = {
      val x = spark.read.format("graft").load(tableDir)
        .agg(count(lit(1)), coalesce(sum(length(col("text"))), lit(0L))).collect()(0)
      (x.getLong(0), x.getAs[Number](1).longValue())
    }
    // the repeated step: one changelog batch applied to a throwaway table and
    // one conversation fetch from the served one (after a first full scan)
    val (_, scanS) = Clock.secs(scan())
    val (_, warmS) = repeated { i =>
      CdcPipeline.applyBatch(newTable(spark, a.work.resolve("warm"), ServeBuckets),
        wire(spark, batchFiles(i)), 0L, cfg)
      lookup(f"conv_${i * 100}%08d")
    }
    val setupS = toSession + genS + bootS + scanS + warmS
    Main.phase(s"set up (session $toSession s, inputs $genS s, bootstrap $bootS s, warm-up $warmS s)")
    val v0 = table.refresh().version

    // writer: batch k is due at t0 + k × period, applied as soon as due
    val t0 = System.currentTimeMillis() + 50L
    val windowEnd = t0 + a.seconds * 1000L
    val applied = mutable.ArrayBuffer[(Long, Double)]()
    @volatile var writerError: Throwable = null
    val writer = new Thread(() => {
      try {
        var k = 0
        while (k < batchFiles.size && t0 + k * ServeWriterPeriodMs < windowEnd) {
          val wait = t0 + k * ServeWriterPeriodMs - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val (_, dt) = Clock.secs(tr.span("batch") {
            tr.count("events", batchEvents(k).toDouble)
            CdcPipeline.applyBatch(table, wire(spark, batchFiles(k)), k.toLong, cfg)
          })
          applied.synchronized(applied += ((batchEvents(k), dt)))
          k += 1
        }
      } catch { case e: Throwable => writerError = e }
    }, "graftbench-writer")

    // reader: closed loop; each read remembers the table versions around it
    final case class Read(conv: String, rows: Seq[(Long, String)], agg: (Long, Long),
        vFrom: Int, vTo: Int, secs: Double)
    val reads = mutable.ArrayBuffer[Read]()
    val probe = LakeTable.load(spark, tableDir)
    val rnd = new scala.util.Random(a.seed)
    val deltaFiles = mutable.ArrayBuffer[Double]()
    val liveFiles = mutable.ArrayBuffer[Double]()
    val planS = mutable.ArrayBuffer[Double]()
    val execS = mutable.ArrayBuffer[Double]()
    val buildS = mutable.ArrayBuffer[Double]()
    writer.start()
    var i = 0
    while (System.currentTimeMillis() < windowEnd) {
      val m = probe.refresh()
      val isScan = i % ServeScanEvery == ServeScanEvery - 1
      if (tr.on) {
        deltaFiles += m.files.count(_.kind == "delta").toDouble
        val deltaBuckets = m.files.filter(_.kind == "delta").map(_.bucket).toSet
        liveFiles += m.files.count(f => !f.del || deltaBuckets.contains(f.bucket)).toDouble
      }
      if (isScan) {
        val (agg, dt) = Clock.secs(tr.span("scan")(scan()))
        reads += Read(null, Nil, agg, m.version, probe.refresh().version, dt)
      } else {
        val c = if (rnd.nextInt(1000) < 300) rnd.nextInt(hotN)
          else hotN + rnd.nextInt(ServeConversations - hotN)
        val conv = f"conv_$c%08d"
        val (rows, dt) = Clock.secs(tr.span("lookup") {
          if (tr.on) {
            buildS += Clock.secs(tr.span("snapshot")(LakeTable.load(spark, tableDir).snapshot()))._2
            val (df, ps) = Clock.secs {
              val d = spark.read.format("graft").load(tableDir).where(col("conv_id") === conv)
                .orderBy("turn_idx").select("turn_idx", "text")
              d.queryExecution.optimizedPlan
              d
            }
            val (rows, es) = Clock.secs(df.collect().toSeq.map(x =>
              (x.getAs[Number](0).longValue(), x.getString(1))))
            planS += ps; execS += es
            tr.count("rows", rows.size.toDouble)
            rows
          } else lookup(conv)
        })
        reads += Read(conv, rows, null, m.version, probe.refresh().version, dt)
      }
      i += 1
    }
    writer.join()
    MergeInto.awaitCompaction()
    Main.phase(s"${reads.size} reads beside ${applied.size} batches")
    Main.phase(applied.map(x => f"${x._2}%.2f").mkString("batch s: ", " ", "") +
      reads.map(x => f"${x.secs}%.2f").mkString("; read s: ", " ", ""))
    if (writerError != null) {
      System.err.println(s"[check] serve writer failed: $writerError")
      r.op(false)
    }
    val done = applied.synchronized(applied.toSeq)
    done.foreach(_ => r.op(true))

    // checks: the final table, then each read against the table states it
    // could have seen
    val appliedFiles = batchFiles.take(done.size).flatten
    val logDecoded = if (appliedFiles.isEmpty) base.limit(0) else decoded(spark, appliedFiles)
    // decode and collect once; both oracles read the local copy
    val allRemote = base.unionByName(logDecoded)
    val all = spark.createDataFrame(allRemote.collect().toSeq.asJava, allRemote.schema)
    checkTable(r, "serve", ReferenceOracle.expectedState(all, Types.transcriptKey), table)
    val oracle = Oracles.PrefixOracle.of(all)
    val offsetAt = commitsAfter(table, v0 - 1).map(c => c.version -> c.offset).toMap
    reads.foreach { rd =>
      val offs = (rd.vFrom to rd.vTo).flatMap(offsetAt.get).distinct
      val problems = if (rd.conv == null) Oracles.scanProblems(oracle, rd.agg, offs)
        else Oracles.lookupProblems(oracle, rd.conv, rd.rows, offs)
      problems.take(2).foreach(x => System.err.println(s"[check] serve read: $x"))
      r.op(problems.isEmpty)
    }
    val liveRows = table.snapshot().count()
    val lookups = reads.filter(_.conv != null).map(_.secs).toSeq
    val scans = reads.filter(_.conv == null).map(_.secs).toSeq
    finish(r, setupS, done.map(_._1).sum / math.max(1e-9, done.map(_._2).sum),
      bytesPerLiveRow(table, liveRows), Clock.median(lookups))
    tr.settle()
    if (tr.on) {
      zeroLayers(r)
      val calls = tr.named("batch")
      stageLayers(r, tr, calls, done.map(_._1).sum)
      commitLayers(r, commitsAfter(table, v0), done.map(_._1).sum, liveRows, table)
      r.put("merge.compact_s", compactSecs(tr), "s")
      val ls = tr.named("lookup")
      val returned = ls.map(_.attrs.getOrElse("rows", 0.0)).sum
      val lookupStages = ls.map(s => tr.stagesOf(tr.jobsOf(s)))
      r.put("lake.delta_files_at_read", mean(deltaFiles.toSeq), "count")
      r.put("lake.snapshot_build_s", mean(buildS.toSeq), "s")
      r.put("lake.files_read_per_lookup", mean(liveFiles.toSeq), "count")
      r.put("lake.rows_scanned_per_row_returned",
        lookupStages.flatten.map(_.inputRecords).sum / math.max(1.0, returned), "ratio")
      r.put("lake.resolve_shuffle_bytes",
        mean(lookupStages.map(_.map(_.shuffleWriteBytes).sum.toDouble)), "B")
      r.put("sources.lookup_plan_s", mean(planS.toSeq), "s")
      r.put("sources.lookup_exec_s", mean(execS.toSeq), "s")
      r.put("workload.lookup_p50_s", p(lookups, 0.5), "s")
      r.put("workload.lookup_p90_s", p(lookups, 0.9), "s")
      r.put("workload.scan_p50_s", p(scans, 0.5), "s")
      r.put("workload.samples", lookups.size.toDouble, "count")
    }
    spark.stop()
  }

  // ==================================================================== sinkop

  val SinkopSchema = StructType(Seq(
    StructField("target", StringType), StructField("action", StringType),
    StructField("key", StringType), StructField("field", StringType),
    StructField("score", DoubleType), StructField("value", StringType),
    StructField("ord", LongType)))

  /** Epoch `e` of the seeded op stream: all ten actions over a skewed
    * conversation keyspace (1% of keys take ~30% of ops); list updates are
    * the LREM-old + RPUSH-new retraction pair. `ord` is global and rising. */
  def sinkopEpoch(seed: Long, e: Int, n: Int): Seq[Oracles.Op] = {
    val rnd = new scala.util.Random(seed * 1000003L + e)
    val hot = math.max(1, SinkopKeys / 100)
    val out = mutable.ArrayBuffer[Oracles.Op]()
    var ord = e.toLong * n * 2
    def next(): Long = { ord += 1; ord }
    while (out.size < n) {
      val c = if (rnd.nextInt(1000) < 300) rnd.nextInt(hot) else hot + rnd.nextInt(SinkopKeys - hot)
      val conv = f"conv_$c%05d"
      val v = s"v${rnd.nextInt(6)}"
      rnd.nextInt(11) match {
        case 0 => out += (("redis", "SET", s"s:$conv", null, 0.0, v, next()))
        case 1 => out += (("redis", "DEL", s"s:$conv", null, 0.0, null, next()))
        case 2 => out += (("redis", "HSET", s"h:$conv", s"f${rnd.nextInt(4)}", 0.0, v, next()))
        case 3 => out += (("redis", "HDEL", s"h:$conv", s"f${rnd.nextInt(4)}", 0.0, null, next()))
        case 4 => out += (("redis", "SADD", s"set:$conv", null, 0.0, v, next()))
        case 5 => out += (("redis", "SREM", s"set:$conv", null, 0.0, v, next()))
        case 6 => out += (("redis", "ZADD", s"z:$conv", null, rnd.nextInt(100) / 4.0, v, next()))
        case 7 => out += (("redis", "ZREM", s"z:$conv", null, 0.0, v, next()))
        case 8 | 9 => out += (("redis", "RPUSH", s"l:$conv", null, 0.0, v, next()))
        case _ => // update of a list entry: retract the old value, push the new
          out += (("redis", "LREM", s"l:$conv", null, 0.0, v, next()))
          out += (("redis", "RPUSH", s"l:$conv", null, 0.0, s"v${rnd.nextInt(6)}", next()))
      }
    }
    out.toSeq
  }

  def opsFrame(spark: SparkSession, ops: Seq[Oracles.Op]): DataFrame =
    spark.createDataFrame(ops.map { case (t, a, k, f, s, v, o) => Row(t, a, k, f, s, v, o) }.asJava,
      SinkopSchema)

  /** Keyed-store op epochs applied with `SinkOpState.applyBatch` onto a
    * growing state table, until `--seconds` are spent. */
  def sinkop(a: Args, r: Result, tr: Tracer): Unit = {
    val spark = Main.session(a.cores, a.work)
    tr.attach(spark)
    val toSession = sinceJvmStart()
    val warmEpochs = SetupReps
    val allOps = mutable.ArrayBuffer[Oracles.Op]()
    val table = SinkOpState.createOrLoad(spark, a.work.resolve("state").toString)
    // the repeated step: one warm-up epoch (the first takes the fresh-table
    // path, the rest the join path that every timed epoch takes)
    val (_, warmS) = repeated { e =>
      val ops = sinkopEpoch(a.seed, e, SinkopOpsPerEpoch)
      SinkOpState.applyBatch(table, opsFrame(spark, ops), e.toLong)
      allOps ++= ops
    }
    val setupS = toSession + warmS
    Main.phase(s"set up (session $toSession s, warm-up $warmS s)")
    val v0 = table.refresh().version

    val perEpoch = mutable.ArrayBuffer[Double]()
    var ops = 0L
    var e = warmEpochs
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      val batch = sinkopEpoch(a.seed, e, SinkopOpsPerEpoch)
      val df = opsFrame(spark, batch)
      val (res, dt) = Clock.secs(tr.span("epoch")(SinkOpState.applyBatch(table, df, e.toLong)))
      r.op(!res.skipped)
      allOps ++= batch
      perEpoch += dt
      ops += batch.size
      e += 1
    }
    Main.phase(s"applied ${e - warmEpochs} epochs")
    val expected = Oracles.sinkopFold(allOps.toSeq)
    val state = Oracles.stateRows(table.snapshot())
    val problems = Oracles.sinkopProblems(expected, state) ++
      Oracles.sinkopProblems(expected.filterNot(_._10), Oracles.stateRows(SinkOpState.liveState(table)))
    problems.foreach(x => System.err.println(s"[check] sinkop: $x"))
    r.op(problems.isEmpty)
    val liveRows = state.count(!_._10).toLong
    val opsPerS = ops / perEpoch.sum
    finish(r, setupS, opsPerS, bytesPerLiveRow(table, liveRows), Clock.median(perEpoch.toSeq))
    tr.settle()
    if (tr.on) {
      zeroLayers(r)
      val calls = tr.named("epoch")
      r.put("merge.sinkop_epoch_s", p(calls.map(_.secs), 0.5), "s")
      r.put("merge.sinkop_jobs_per_epoch", mean(calls.map(s => tr.jobsOf(s).size.toDouble)), "count")
      r.put("merge.sinkop_driver_s", mean(calls.map(tr.driverSecs)), "s")
      r.put("merge.sinkop_state_rows", state.size.toDouble, "count")
      r.put("merge.plan_s", mean(calls.map(tr.planSecs)), "s")
      r.put("merge.codegen_compiles", mean(calls.map(_.attrs.getOrElse("codegen_compiles", 0.0))), "count")
      r.put("merge.codegen_compile_s", mean(calls.map(_.attrs.getOrElse("codegen_compile_s", 0.0))), "s")
      r.put("merge.spill_bytes", tr.stagesOf(calls.flatMap(s => tr.jobsOf(s))).map(_.spillBytes).sum.toDouble, "B")
      r.put("workload.sinkop_ops_per_s", opsPerS, "ops/s")
      r.put("workload.samples", calls.size.toDouble, "count")
      commitLayers(r, commitsAfter(table, v0), ops, liveRows, table)
    }
    spark.stop()
  }
}
