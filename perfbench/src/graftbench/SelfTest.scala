package graftbench

import graft.changelog.{ChangelogCodec, ChangelogGenerator, ChangelogSpec}
import graft.core.Types
import graft.lake.LakeTable
import graft.merge.SinkOpState
import graft.oracle.ReferenceOracle
import graft.streaming.CdcPipeline
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** Tiny-scale self-test of the harness's checkers: each one must pass the
  * engine's real result and fail on a corrupted copy of it (one row dropped,
  * one `text` changed, one entry reordered). Exits non-zero on any miss. */
object SelfTest {
  def run(work: Path): Unit = {
    val spark = Main.session(2, work)
    var misses = 0
    def expect(name: String, problems: Seq[String], shouldFail: Boolean): Unit = {
      val ok = problems.nonEmpty == shouldFail
      println(s"${if (ok) "ok  " else "MISS"} $name")
      if (!ok) misses += 1
    }

    // a small replayed table
    val logDir = work.resolve("log")
    ChangelogGenerator.write(spark, ChangelogSpec(seed = 3L, nEvents = 3000L,
      nConversations = 40, chunkSize = 1000L, filesPerChunk = 1), logDir.toString)
    val wire = spark.read.schema(Types.changeEventWireSchema).parquet(logDir.toString)
    val table = LakeTable.create(spark, work.resolve("table").toString, Types.transcriptSchemaV0,
      Types.transcriptKey, Seq("conv_id"), 4)
    val cfg = CdcPipeline.Config(logDir.toString, "", autoCompactMinRows = Long.MaxValue)
    val epochs = wire.select("epoch_hint").distinct().collect().map(_.getLong(0)).sorted
    epochs.foreach(e => CdcPipeline.applyBatch(table, wire.where(col("epoch_hint") === e), e, cfg))
    val decoded = ChangelogCodec.decode(wire, Types.transcriptSchemaV2)
    val expected = ReferenceOracle.expectedState(decoded, Types.transcriptKey)
    val actual = ReferenceOracle.actualState(table.snapshot(), Types.transcriptKey)
    val someKey = actual.keys.toSeq.sortBy(_.toString).head
    expect("table: engine result passes", Oracles.tableProblems(expected, actual), shouldFail = false)
    expect("table: one row dropped", Oracles.tableProblems(expected, actual - someKey), shouldFail = true)
    expect("table: one text changed", Oracles.tableProblems(expected,
      actual.updated(someKey, actual(someKey).updated("text", "corrupted"))), shouldFail = true)

    // conversation fetches and the full-table aggregate
    val oracle = Oracles.PrefixOracle.of(decoded)
    val offset = table.refresh().lastOffset
    val dir = table.root.toString
    val conv = spark.read.format("graft").load(dir).groupBy("conv_id").count()
      .orderBy(desc("count"), col("conv_id")).first().getString(0)
    val rows = spark.read.format("graft").load(dir).where(col("conv_id") === conv)
      .orderBy("turn_idx").select("turn_idx", "text").collect().toSeq
      .map(x => (x.getAs[Number](0).longValue(), x.getString(1)))
    val offs = Seq(offset)
    expect("lookup: engine result passes", Oracles.lookupProblems(oracle, conv, rows, offs), shouldFail = false)
    expect("lookup: one row dropped", Oracles.lookupProblems(oracle, conv, rows.drop(1), offs), shouldFail = true)
    expect("lookup: one text changed", Oracles.lookupProblems(oracle, conv,
      rows.updated(0, (rows.head._1, "corrupted")), offs), shouldFail = true)
    expect("lookup: two rows reordered", Oracles.lookupProblems(oracle, conv,
      rows(1) +: rows(0) +: rows.drop(2), offs), shouldFail = true)
    val agg = spark.read.format("graft").load(dir)
      .agg(count(lit(1)), sum(length(col("text")))).collect()(0)
    val got = (agg.getLong(0), agg.getAs[Number](1).longValue())
    expect("scan: engine result passes", Oracles.scanProblems(oracle, got, offs), shouldFail = false)
    expect("scan: one row dropped", Oracles.scanProblems(oracle, (got._1 - 1, got._2), offs), shouldFail = true)

    // SinkOp state
    val state = SinkOpState.createOrLoad(spark, work.resolve("state").toString, numBuckets = 4)
    val ops = (0 until 3).flatMap { e =>
      val batch = Workloads.sinkopEpoch(5L, e, 400)
      SinkOpState.applyBatch(state, Workloads.opsFrame(spark, batch), e.toLong)
      batch
    }
    val want = Oracles.sinkopFold(ops)
    val have = Oracles.stateRows(state.snapshot())
    val live = have.filter(!_._10)
    val list = live.filter(_._2 == "list").toSeq.sortBy(_._9)
    val (x, y) = list.combinations(2).map(p => (p(0), p(1)))
      .find { case (a, b) => a._3 == b._3 && a._7 != b._7 }
      .getOrElse(sys.error("no list with two different values"))
    // swap the positions (uid = push ord) of two entries of one list
    val reordered = have - x - y + x.copy(_6 = y._6, _9 = y._9) + y.copy(_6 = x._6, _9 = x._9)
    expect("sinkop: engine result passes", Oracles.sinkopProblems(want, have), shouldFail = false)
    expect("sinkop: one row dropped", Oracles.sinkopProblems(want, have - live.head), shouldFail = true)
    expect("sinkop: one value changed", Oracles.sinkopProblems(want,
      have - live.head + live.head.copy(_7 = "corrupted")), shouldFail = true)
    expect("sinkop: one list entry reordered", Oracles.sinkopProblems(want, reordered), shouldFail = true)
    spark.stop()
    if (misses > 0) {
      System.err.println(s"$misses checker(s) missed")
      sys.exit(1)
    }
  }
}
