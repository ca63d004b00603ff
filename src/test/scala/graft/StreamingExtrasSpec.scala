package graft

import graft.changelog.{ChangelogCodec, ChangelogGenerator, ChangelogSpec}
import graft.core.Types
import graft.lake.LakeTable
import graft.oracle.ReferenceOracle
import graft.streaming.{CdcPipeline, Feed, Metrics, RouteEngine}
import org.apache.spark.sql.functions._

/** Multi-table routing, changefeed-out sink, and streaming metrics. */
class StreamingExtrasSpec extends SparkSpec {
  import Types._

  private val keys = Seq("conv_id", "turn_idx")

  test("multi-table routing: one stream, two tables, per-route exactly-once") {
    val tmp = tmpDir("graft-multi")
    val log = s"$tmp/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 8000, nConversations = 150, chunkSize = 1000,
        dupEvery = 3000, dupSpanLen = 150), log)
    def mk(n: String) = LakeTable.create(spark, s"$tmp/$n", transcriptSchemaV0,
      keys, Seq("conv_id"), 4)
    val tUser = mk("user"); val tOther = mk("other")
    val cfg = CdcPipeline.Config(log, s"$tmp/cp", maxFilesPerTrigger = 16)
    val routes = Seq(
      RouteEngine.LakeRoute("user", tUser, cfg.registry, _.where(col("role") === "user")),
      RouteEngine.LakeRoute("other", tOther, cfg.registry, _.where(col("role") =!= "user")))
    RouteEngine.runToCompletion(spark, RouteEngine.Flow(routes), cfg, awaitMaintenance = true)

    // oracle: decode everything, split by the same predicates, replay each
    val wire = spark.read.schema(changeEventWireSchema).parquet(log)
    val decoded = ChangelogCodec.decode(wire, tUser.meta.schema)
    def check(t: LakeTable, pred: org.apache.spark.sql.Column): Unit = {
      val exp = ReferenceOracle.expectedState(decoded.where(pred), keys)
      val act = ReferenceOracle.actualState(t.snapshot(), keys)
      val (m, e, d) = ReferenceOracle.diff(exp, act)
      assert(m.isEmpty && e.isEmpty && d.isEmpty,
        s"missing=${m.take(3)} extra=${e.take(3)} diff=${d.take(3)}")
      assert(exp.nonEmpty)
    }
    check(tUser, col("role") === "user")
    check(tOther, col("role") =!= "user")
    // disjoint routing: no key overlap is NOT guaranteed (a key's role can
    // differ across events) but both tables must carry their route only
    assert(tUser.snapshot().where(col("role") =!= "user").count() == 0)
    assert(tOther.snapshot().where(col("role") === "user").count() == 0)
  }

  test("S6 dynamic: route names from data must be safe path segments") {
    import graft.streaming.DynamicRoutePipeline.safeSegment
    assert(safeSegment("tbl_a") && safeSegment("t-1.v2"))
    // regex `.` matches `/` — a matched value is not automatically a path
    assert(!safeSegment("tbl_a/../../../tmp/evil"))
    assert(!safeSegment("a/b") && !safeSegment(".") && !safeSegment("..")
      && !safeSegment("") && !safeSegment("a\u0000b"))
  }

  test("S6 dynamic: a table appearing after query start receives its events") {
    import graft.streaming.DynamicRoutePipeline
    val tmp = tmpDir("graft-dyn")
    val log = s"$tmp/log"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log))
    def chunk(n: Int, table: String, posBase: Long, count: Int): Unit = {
      import spark.implicits._
      val rows = (0 until count).map { i =>
        val pos = posBase + i
        (pos, n.toLong, "insert",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 2, null: String,
          s"""{"conv_id":"c$pos","turn_idx":0,"role":"user","text":"t$pos",""" +
            s""""tool":"$table","ts":"2024-01-01 00:00:00"}""")
      }
      rows.toDF("pos", "epoch_hint", "op", "ts", "schema_id", "before", "after")
        .coalesce(1).write.mode("append").parquet(log)
    }
    chunk(0, "tbl_a", 0, 500)
    val d = DynamicRoutePipeline.Config("tool", "tbl_.*", s"$tmp/tables",
      Seq("conv_id", "turn_idx"), Seq("conv_id"), 4)
    val cfg = CdcPipeline.Config(log, s"$tmp/cp", maxFilesPerTrigger = 1,
      triggerMs = 100)
    val state = new DynamicRoutePipeline.State
    val q = RouteEngine.start(spark, DynamicRoutePipeline.flow(spark, d, state, cfg), cfg)
    try {
      val deadline = System.currentTimeMillis() + 90000
      while (!state.tables.contains("tbl_a") &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(state.tables.contains("tbl_a"), "route tbl_a never discovered")
      assert(!state.tables.contains("tbl_b"))
      // a NEW logical table starts emitting events AFTER the query started:
      // the wildcard must pick it up without a restart
      chunk(1, "tbl_b", 1000, 300)
      def bCount() = state.tables.get("tbl_b").map(_.snapshot().count()).getOrElse(-1L)
      while (bCount() != 300 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(bCount() == 300, s"tbl_b rows = ${bCount()}, want 300")
    } finally { q.stop(); q.awaitTermination() }
    assert(state.tables("tbl_a").snapshot().count() == 500)
    // routed tables carry ONLY their route's rows
    assert(state.tables("tbl_b").snapshot()
      .where(col("tool") =!= "tbl_b").count() == 0)
    // lone-* rejected, like the reference
    intercept[IllegalArgumentException] {
      RouteEngine.applyBatch(DynamicRoutePipeline.flow(spark, d.copy(pattern = "*"), state, cfg),
        spark.read.schema(changeEventWireSchema).parquet(log), 99L, cfg)
    }
  }

  /** One wire chunk of insert events for a dynamic-route table. */
  private def dynChunk(log: String, n: Int, table: String, posBase: Long,
      count: Int, text: String = "t"): Unit = {
    import spark.implicits._
    val rows = (0 until count).map { i =>
      val pos = posBase + i
      (pos, n.toLong, "insert",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 2, null: String,
        s"""{"conv_id":"c$pos","turn_idx":0,"role":"user","text":"$text$pos",""" +
          s""""tool":"$table","ts":"2024-01-01 00:00:00"}""")
    }
    rows.toDF("pos", "epoch_hint", "op", "ts", "schema_id", "before", "after")
      .coalesce(1).write.mode("append").parquet(log)
  }

  test("S6 dynamic: transient failure retries in place; discovered tables compact") {
    import graft.streaming.DynamicRoutePipeline
    val tmp = tmpDir("graft-dynpar")
    val log = s"$tmp/log"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log))
    (0 until 4).foreach(n => dynChunk(log, n, "tbl_a", n * 1000L, 250))
    dynChunk(log, 4, "tbl_b", 9000L, 100)
    val injected = new java.util.concurrent.atomic.AtomicInteger(0)
    val d = DynamicRoutePipeline.Config("tool", "tbl_.*", s"$tmp/tables",
      Seq("conv_id", "turn_idx"), Seq("conv_id"), 4)
    val cfg = CdcPipeline.Config(log, s"$tmp/cp", maxFilesPerTrigger = 1,
      // compact on every batch so the parity is observable in a short run
      autoCompactRatio = 0.0, autoCompactMinRows = 0L, retryBackoffMs = 10L,
      // one transient failure mid-stream: without withBatchRetries parity
      // this kills the query instead of retrying in place
      failureInjector = Some(b =>
        if (b == 2 && injected.getAndIncrement() == 0)
          throw new RuntimeException("injected transient sink failure")))
    val state = DynamicRoutePipeline.runToCompletion(spark, d, cfg)
    assert(injected.get() >= 1, "injector never fired")
    // recovered without loss or duplication
    assert(state.tables("tbl_a").snapshot().count() == 1000)
    assert(state.tables("tbl_b").snapshot().count() == 100)
    // and the dynamically discovered MOR tables actually COMPACTED: deltas
    // folded into base files during the run (the round-3 gap)
    Seq("tbl_a", "tbl_b").foreach { n =>
      val m = LakeTable.load(spark, s"$tmp/tables/$n").meta
      assert(m.files.exists(_.kind == "base"),
        s"$n never compacted: kinds=${m.files.map(_.kind).distinct}")
    }
  }

  test("S6 dynamic: late-discovered table with pre-existing snapshot is stock-loaded") {
    import graft.streaming.DynamicRoutePipeline
    import spark.implicits._
    val tmp = tmpDir("graft-dynstock")
    val log = s"$tmp/log"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log))
    // the table exists BEFORE the stream: 10 rows of base data, written under
    // an older shape (no `lang` column — the handoff must pad it)
    val snapDir = s"$tmp/snap/tbl_s"
    (0 until 10).map(i => (s"s$i", 0L, "user", "snap", "tbl_s",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.parquet(snapDir)
    // the stream reveals tbl_s only through its change events: an update to a
    // snapshot key and a brand-new key
    dynChunk(log, 0, "tbl_a", 0, 50)
    import spark.implicits._
    Seq((5000L, 1L, "insert",
        java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2, null: String,
        """{"conv_id":"s0","turn_idx":0,"role":"user","text":"changed","tool":"tbl_s","ts":"2024-01-02 00:00:00"}"""),
      (5001L, 1L, "insert",
        java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2, null: String,
        """{"conv_id":"new1","turn_idx":0,"role":"user","text":"fresh","tool":"tbl_s","ts":"2024-01-02 00:00:00"}"""))
      .toDF("pos", "epoch_hint", "op", "ts", "schema_id", "before", "after")
      .coalesce(1).write.mode("append").parquet(log)
    val d = DynamicRoutePipeline.Config("tool", "tbl_.*", s"$tmp/tables",
      Seq("conv_id", "turn_idx"), Seq("conv_id"), 4,
      snapshotDirFor = n => if (n == "tbl_s") Some(snapDir) else None)
    val cfg = CdcPipeline.Config(log, s"$tmp/cp", maxFilesPerTrigger = 4)
    val state = DynamicRoutePipeline.runToCompletion(spark, d, cfg)
    // final state = snapshot ∪ changes under LWW
    val s = state.tables("tbl_s").snapshot().cache()
    assert(s.count() == 11, s"want 10 snapshot + 1 new, got ${s.count()}")
    assert(s.where($"conv_id" === "s0").select("text").as[String].head() == "changed",
      "change event must supersede the stock row under LWW")
    assert(s.where($"conv_id" === "s3").select("text").as[String].head() == "snap")
    assert(s.where($"conv_id" === "new1").count() == 1)
    // tbl_a had no snapshot: born with the stream, unaffected
    assert(state.tables("tbl_a").snapshot().count() == 50)
  }

  test("S6 dynamic: custom registry drives create-time table schema") {
    import graft.streaming.DynamicRoutePipeline
    import org.apache.spark.sql.types._
    import spark.implicits._
    val tmp = tmpDir("graft-dynreg")
    val custom = StructType(Seq(
      StructField("conv_id", StringType, nullable = false),
      StructField("turn_idx", LongType, nullable = false),
      StructField("tbl", StringType),
      StructField("extra", StringType)))
    val wire = Seq((0L, 0L, "insert",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0, null: String,
        """{"conv_id":"a","turn_idx":0,"tbl":"tbl_z","extra":"kept"}"""))
      .toDF("pos", "epoch_hint", "op", "ts", "schema_id", "before", "after")
    val d = DynamicRoutePipeline.Config("tbl", "tbl_.*", s"$tmp/tables",
      Seq("conv_id", "turn_idx"), Seq("conv_id"), 2)
    val cfg = CdcPipeline.Config(s"$tmp/log", s"$tmp/cp", registry = Map(0 -> custom))
    val state = new DynamicRoutePipeline.State
    RouteEngine.applyBatch(DynamicRoutePipeline.flow(spark, d, state, cfg), wire, 0L, cfg)
    // create-time schema comes from cfg.registry, not the built-in transcript
    // constants: the custom column must survive create + merge + snapshot
    val t = state.tables("tbl_z")
    assert(t.meta.schema.fieldNames.contains("extra"),
      s"table created with ${t.meta.schema.fieldNames.mkString(",")}")
    assert(t.snapshot().select("extra").as[String].head() == "kept")
  }

  test("changefeed-out sink: one keyed message per change event, resume-safe") {
    val tmp = tmpDir("graft-feed")
    val log = s"$tmp/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 5000, nConversations = 100, chunkSize = 1000,
        dupEvery = 0), log)
    val cfg = CdcPipeline.Config(log, s"$tmp/cp", maxFilesPerTrigger = 8)
    RouteEngine.runToCompletion(spark, Feed.changefeed(s"$tmp/out", reserveRawData = true), cfg)
    val out = Feed.readFeed(spark, s"$tmp/out")
    assert(out.count() == 5000)
    assert(out.columns.toSeq == Seq("key", "value"))
    val sample = out.limit(1).collect().head.getAs[String]("value")
    assert(sample.contains(""""action":""") && sample.contains(""""date":"""))
    // re-running the drained stream appends nothing (checkpointed offsets)
    RouteEngine.runToCompletion(spark, Feed.changefeed(s"$tmp/out", reserveRawData = true), cfg)
    assert(Feed.readFeed(spark, s"$tmp/out").count() == 5000)
  }

  test("spark.readStream.format(\"graft\"): tail a lake table's commits — " +
    "ops stream as upsert/delete, checkpointed resume, history replay") {
    import graft.merge.MergeInto
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val work = tmpDir("graft-tail")
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", StringType)))
    val t = LakeTable.create(spark, s"$work/t", schema,
      keyCols = Seq("k"), bucketCols = Seq("k"), numBuckets = 4)
    def batch(rows: (String, Long, String, String)*): DataFrame = {
      import spark.implicits._
      rows.toDF("_op", "_pos", "k", "v")
        .withColumn("_event_ts", lit(null).cast("timestamp"))
        .select("_op", "_pos", "_event_ts", "k", "v")
    }
    // pre-stream history: not emitted with the default startingVersion
    MergeInto.merge(t, batch((0 until 4).map(i =>
      (OpInsert, i.toLong, s"k$i", s"v$i")): _*), 0)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
    def start() = spark.readStream.format("graft").load(s"$work/t")
      .writeStream.option("checkpointLocation", s"$work/cp")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => got.add((r.getString(0), r.getString(2), r.getLong(3))))
        ()
      }.start()
    val q = start()
    try {
      q.processAllAvailable()
      assert(got.isEmpty, "history before stream start must not be emitted")
      MergeInto.merge(t, batch(
        (OpInsert, 10L, "k9", "w9"), (OpUpdate, 11L, "k0", "w0")), 1)
      MergeInto.merge(t, batch((OpDelete, 20L, "k1", null)), 2)
      q.processAllAvailable()
      assert(got.asScalaSet == Set(
        ("k9", "upsert", 10L), ("k0", "upsert", 11L), ("k1", "delete", 20L)),
        s"got=${got.asScalaSet}")
    } finally q.stop()
    // commits while the consumer is DOWN arrive on checkpointed resume
    MergeInto.merge(t, batch((OpInsert, 30L, "k7", "v7")), 3)
    got.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(got.asScalaSet == Set(("k7", "upsert", 30L)), s"got=${got.asScalaSet}")
    } finally q2.stop()
    // startingVersion=1 replays the full retained history (every commit)
    val hist = spark.readStream.format("graft")
      .option("startingVersion", "1").load(s"$work/t")
    val hq = hist.writeStream.option("checkpointLocation", s"$work/cp-hist")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => got.add((r.getString(0), r.getString(2), r.getLong(3))))
        ()
      }.start()
    got.clear()
    try {
      hq.processAllAvailable()
      assert(got.asScalaSet.map(_._3) == Set(0L, 1L, 2L, 3L, 10L, 11L, 20L, 30L),
        s"got=${got.asScalaSet}")
    } finally hq.stop()
    // batch facade still agrees with the final state
    val fin = spark.read.format("graft").load(s"$work/t")
      .orderBy("k").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(fin == Seq("k0" -> "w0", "k2" -> "v2", "k3" -> "v3",
      "k7" -> "v7", "k9" -> "w9"))
  }

  private implicit class QueueOps(
      q: java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]) {
    def asScalaSet: Set[(String, String, Long)] = {
      import scala.jdk.CollectionConverters._
      q.asScala.toSet
    }
  }

  test("streaming metrics listener records per-batch progress") {
    val tmp = tmpDir("graft-metrics")
    val log = s"$tmp/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 3000, nConversations = 50, chunkSize = 1000,
        dupEvery = 0, schemaEvolution = false), log)
    val table = LakeTable.create(spark, s"$tmp/table", transcriptSchemaV0,
      keys, Seq("conv_id"), 4)
    val mPath = s"$tmp/metrics/progress.jsonl"
    val l = Metrics.attach(spark, mPath)
    try CdcPipeline.runToCompletion(spark, table,
      CdcPipeline.Config(log, s"$tmp/cp", maxFilesPerTrigger = 8))
    finally Metrics.detach(spark, l)
    // listener events are async; wait briefly for the writes to land
    val deadline = System.currentTimeMillis() + 10000
    def lines() = if (java.nio.file.Files.exists(java.nio.file.Paths.get(mPath)))
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(mPath)).size else 0
    while (lines() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(lines() >= 2, "expected started + ≥1 progress line")
    val progress = spark.read.json(mPath).where(col("batchId").isNotNull)
    assert(progress.count() >= 1)
  }

  test("typed Dataset[ChangeEvent] surface decodes images and keys") {
    val tmp = tmpDir("graft-typed")
    val log = s"$tmp/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 2000, nConversations = 40, chunkSize = 1000,
        dupEvery = 0), log)
    val wire = spark.read.schema(changeEventWireSchema).parquet(log)
    val ds = ChangelogCodec.typed(wire)
    val evs = ds.collect()
    assert(evs.length == 2000)
    assert(evs.forall(e => e.key.isDefined))
    val ins = evs.filter(_.op == OpInsert)
    assert(ins.nonEmpty && ins.forall(e => e.after.isDefined && e.before.isEmpty))
    val del = evs.filter(_.op == OpDelete)
    assert(del.nonEmpty && del.forall(e => e.after.isEmpty && e.before.isDefined))
    val upd = evs.filter(_.op == OpUpdate)
    assert(upd.nonEmpty && upd.forall(e => e.after.isDefined && e.before.isDefined))
    // typed flatMap over the stream: 0..n ops per event (Lua analog, typed)
    import spark.implicits._
    val opsPerConv = ds.flatMap(e => e.image.map(t => t.conv_id).toSeq)
      .groupByKey(identity).count().collect()
    assert(opsPerConv.map(_._2).sum == 2000)
  }

  // ------------------------------------------------ stateful streaming ops

  private def mkTs(baseMs: Long, offUs: Long): java.sql.Timestamp = {
    val us = baseMs * 1000L + offUs
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  test("sessionize: flatMapGroupsWithState stream == window-function batch, µs-exact gap") {
    import graft.streaming.Sessionize
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
    def ev(k: String, offSec: Double) =
      Sessionize.KeyedEvent(k, mkTs(t0, (offSec * 1000000L).toLong))
    // gap = 60 s; c tests the exact-threshold edge: 60 s merges, 60 s + 1 µs
    // splits; d tests that sessions do NOT seal on an observed gap — d@0 and
    // d@120 split provisionally in batch1, then the out-of-order d@60
    // (legal: the watermark delay covers it) arrives in batch3 at exactly
    // gap reach of BOTH and bridges them into one session, exactly as the
    // batch plan places it
    val batch1 = Seq(ev("a", 0), ev("a", 30), ev("b", 10), ev("c", 0),
      ev("d", 0), ev("d", 120))
    val batch2 = Seq(ev("a", 95), ev("a", 100), ev("c", 60), ev("c", 120.000001))
    val batch3 = Seq(ev("d", 60),
      ev("z", 7200)) // sentinel: pushes the watermark past all timeouts
    val all = batch1 ++ batch2 ++ batch3

    val ms = MemoryStream[Sessionize.KeyedEvent]
    val streamed = Sessionize.streamingSessions(
      ms.toDS().withWatermark("ts", "10 minutes"), gapSec = 60L)
    val q = streamed.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      Seq(batch1, batch2, batch3).foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("sess").as[Sessionize.Session].collect()
      .filter(_.key != "z").map(s => (s.key, s.session_start, s.session_end, s.n_events))
      .toSet

    val batchDf = Sessionize.sessions(
      all.toDF("key", "ts").where($"key" =!= "z"), "key", "ts", gapSec = 60L)
    val exp = batchDf.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(exp == got, s"batch=$exp stream=$got")
    // the semantics themselves: a splits at 65 s gap, c merges at exactly 60 s
    // and splits at 60 s + 1 µs; d's provisional split healed into ONE session
    // by the late bridging event (no eager sealing on observed gaps)
    assert(got.count(_._1 == "a") == 2 && got.count(_._1 == "c") == 2)
    assert(got.exists(s => s._1 == "c" && s._4 == 2L))
    assert(got.filter(_._1 == "d").map(_._4) == Set(3L))
  }

  test("windowed rate: watermarked streaming agg == batch twin") {
    import graft.streaming.Sessionize
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
    val data = Seq(
      (mkTs(t0, 0), "click"), (mkTs(t0, 30L * 1000000), "click"),
      (mkTs(t0, 59L * 1000000), "view"), (mkTs(t0, 61L * 1000000), "click"),
      (mkTs(t0, 150L * 1000000), "view"))
    val sentinel = (mkTs(t0, 7200L * 1000000), "zz")

    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val streamDf = Sessionize.windowedRate(
      ms.toDF().toDF("ts", "event_type"), "ts", "event_type", "1 minute", "0 seconds")
    val q = streamDf.writeStream.format("memory").queryName("rate")
      .outputMode("append").start()
    try {
      ms.addData(data); q.processAllAvailable()
      ms.addData(Seq(sentinel)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rate").where($"event_type" =!= "zz").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val exp = Sessionize.windowedRate(
      data.toDF("ts", "event_type"), "ts", "event_type", "1 minute").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(exp == got, s"batch=$exp stream=$got")
    assert(exp.size == 4) // (min0: click×2, view×1), (min1: click×1), (min2: view×1)
  }
}
