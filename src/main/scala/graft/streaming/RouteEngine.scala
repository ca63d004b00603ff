package graft.streaming

import graft.changelog.ChangelogCodec
import graft.core.Types
import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeResult, SinkOpState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one apply loop behind every pipeline — the single-table run, YAML
  * routes, wildcard discovery and the changefeed CLI are each a [[Flow]] of
  * routes handed to this engine. The reference has the same single loop:
  * it decodes each RowRequest once and hands it to the endpoint of its
  * RuleKey rule (service/handler.go:135-194), dropping events that match
  * no rule (handler.go:83-86).
  *
  * Per micro-batch:
  *   - ONE decode, keyed by wire format, with the before image only when a
  *     feed route reserves raw data;
  *   - the decoded batch is persisted only when more than one reader scans
  *     it (N > 1 routes, or discovery plus its routes): a one-route apply is
  *     the plain scan → decode → merge plan;
  *   - every lake MERGE is sized by the trigger's row estimate (`rowsHint`),
  *     and every lake and state table the batch touched gets async
  *     compaction.
  *
  * Each route keeps its own exactly-once contract: a lake or state table
  * fences (epoch, offset, pipelineId) in its own commit; a feed route
  * overwrites its `epoch=N` partition on replay ([[Feed]]).
  */
object RouteEngine {
  import CdcPipeline.Config

  sealed trait Route { def name: String }

  /** MERGE `select` of the decoded batch into `table`; `registry` is the
    * schema timeline the batch's `_schema_id` watermark evolves it along.
    */
  final case class LakeRoute(name: String, table: LakeTable,
      registry: Map[Int, StructType],
      select: DataFrame => DataFrame = identity) extends Route

  /** Write `shape` of the decoded batch as `outDir/epoch=N`. With a `state`
    * table this is the ops-with-state route: the shaped rows are SinkOp rows
    * that also fold into that table ([[SinkOpState]]). `withBefore` asks
    * the decode for the before image.
    */
  final case class FeedRoute(name: String, outDir: String,
      shape: DataFrame => DataFrame, withBefore: Boolean = false,
      state: Option[LakeTable] = None) extends Route

  /** One pipeline: its routes, the wire format of the changelog dir
    * (`graft` parquet, `debezium` JSON lines, or `table` — another lake
    * table's commit tail, from `tableStartVersion`), an optional per-batch
    * discovery of further lake routes, and the feed-fold cadence (every
    * `feedFoldEvery` batches keep `feedRetainEpochs` live; 0 = never).
    */
  final case class Flow(routes: Seq[Route], wireFormat: String = "graft",
      tableStartVersion: Int = 1,
      discover: Option[DataFrame => Seq[LakeRoute]] = None,
      feedFoldEvery: Long = 0L, feedRetainEpochs: Int = 8) {
    def feedDirs: Seq[String] = routes.collect { case f: FeedRoute => f.outDir }
  }

  /** Wire → merge-input layout (`_op,_pos,_event_ts,_schema_id`
    * [,`_before`] + row columns), decoded against the NEWEST registry
    * schema: older events parse with nulls/wide types, and the per-event
    * `_schema_id` watermark drives in-flight table evolution in the merge
    * (OnTableChanged analog, reference: service/handler.go:56-62).
    */
  private def decode(wire: DataFrame, wireFormat: String,
      registry: Map[Int, StructType], withBefore: Boolean): DataFrame = {
    val sid = registry.keys.max
    val newest = registry(sid)
    wireFormat match {
      case "debezium" =>
        // no schema_id on the standard envelope: decode against (and evolve
        // tables to) the newest registry schema — see GraftConfig.wireFormat
        ChangelogCodec.decodeDebezium(wire, newest, withBefore = withBefore)
          .withColumn("_schema_id", lit(sid))
      case "table" =>
        // upstream-table commit tail: rows are already decoded — shape them
        // into the merge-input layout (upsert→insert; no before images on a
        // table tail), casting by name to the registry's newest schema
        val metas = Seq(
          when(col("_op") === "delete", Types.OpDelete)
            .otherwise(Types.OpInsert).as("_op"),
          col("_pos"),
          lit(null).cast("timestamp").as("_event_ts"),
          lit(sid).as("_schema_id")) ++
          (if (withBefore) Seq(lit(null).cast(newest).as(ChangelogCodec.BeforeCol))
           else Nil)
        wire.select(metas ++ newest.fields.toSeq.map(f =>
          (if (wire.columns.contains(f.name)) col(f.name)
           else lit(null)).cast(f.dataType).as(f.name)): _*)
      case _ => ChangelogCodec.decode(wire, newest, withBefore)
    }
  }

  /** Apply one micro-batch of wire rows to every route of `flow`. */
  def applyBatch(flow: Flow, wire: DataFrame, epoch: Long, cfg: Config,
      pipelineId: String = ""): Map[String, MergeResult] = {
    val decoded = decode(wire, flow.wireFormat, cfg.registry,
      flow.routes.exists { case f: FeedRoute => f.withBefore; case _ => false })
    // discovery reads the batch once and its routes again
    val readers = flow.routes.size + (if (flow.discover.isDefined) 2 else 0)
    val batch =
      if (readers > 1) decoded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else decoded
    try {
      val routes = flow.routes ++ flow.discover.fold(Seq.empty[LakeRoute])(_(batch))
      lazy val rowsHint = estimateRows(wire)
      val results = routes.map { r =>
        r.name -> (r match {
          case l: LakeRoute =>
            MergeInto.merge(l.table, l.select(batch), epoch, cfg.saltedDedup,
              cfg.mergeMode, l.registry, batchSchemaId = cfg.registry.keys.max,
              pipelineId = pipelineId, allowTakeover = cfg.allowPipelineTakeover,
              rowsHint = rowsHint)
          case f: FeedRoute =>
            val out = f.shape(batch)
            Feed.write(out, f.outDir, epoch, f.name)
            // the state table's OWN (epoch, pipelineId) fence makes the fold
            // exactly-once even though the feed write is overwrite-idempotent
            f.state.fold(MergeResult(epoch, skipped = false, 0, 0, 0, 0))(st =>
              SinkOpState.applyBatch(st, out, epoch, pipelineId = pipelineId,
                allowTakeover = cfg.allowPipelineTakeover))
        })
      }
      // MOR maintenance: async amortized compaction keeps read-side resolve
      // bounded without blocking ingest (rebase-safe vs concurrent merges).
      // State tables are lake tables too; their op-algebra MARKER rows GC
      // separately via SinkOpState.gcMarkers.
      routes.flatMap {
        case l: LakeRoute => Seq(l.table)
        case f: FeedRoute => f.state.toSeq
      }.foreach(MergeInto.maybeCompactAsync(_, cfg.autoCompactRatio, cfg.autoCompactMinRows))
      results.toMap
    } finally if (batch ne decoded) batch.unpersist()
  }

  /** Cheap batch-size estimate from the trigger's input file sizes (driver
    * namespace I/O only; ~20 bytes/event in the parquet wire format, biased
    * LOW so big batches keep the full write fanout). Sizes the write
    * exchange so a small trigger doesn't shatter into hundreds of near-empty
    * files. -1 (unknown) on any surprise.
    */
  private def estimateRows(wire: DataFrame): Long =
    try {
      val uris = wire.inputFiles.map(java.net.URI.create)
      // non-local stores: skip the stat round-trips
      if (uris.isEmpty || uris.exists(u => u.getScheme != null && u.getScheme != "file")) -1L
      else uris.map(u => new java.io.File(u.getPath).length()).sum / 20L
    } catch { case _: Throwable => -1L }

  private def source(spark: SparkSession, flow: Flow, cfg: Config): DataFrame = {
    val r = spark.readStream.option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
    flow.wireFormat match {
      case "debezium" =>
        // a Debezium topic dump: JSON-lines files, one envelope per line.
        // Tombstones (null-value records Debezium emits after deletes),
        // blank lines and non-envelope junk cannot contain an `"op"` key —
        // dropped HERE on the text scan where the predicate is free;
        // decodeDebezium raises on anything op-less that slips past
        // (see its scaladoc for why the skip cannot live inside the decode)
        r.text(cfg.changelogDir).where(instr(col("value"), "\"op\"") > 0)
      case "table" =>
        // tail another lake table's commits (pipeline chaining). Default
        // start = version 1: a fresh downstream replays the full retained
        // delta history and starts complete PROVIDED every replayed commit
        // is delta-carrying (MOR merges) — cow/bootstrap commits land base
        // files the tail cannot emit, and GraftStreamSource warns loudly on
        // a fresh replay that spans one (Bootstrap the downstream first).
        // Its own checkpoint dedups across restarts; version 0 tails from
        // NOW instead.
        (if (flow.tableStartVersion > 0)
          r.option("startingVersion", flow.tableStartVersion.toString)
        else r).format("graft").load(cfg.changelogDir)
      case _ => r.schema(Types.changeEventWireSchema).parquet(cfg.changelogDir)
    }
  }

  /** Start the streaming query (reference lifecycle: SURVEY.md §3.1).
    *  - canal.RunFrom(position) tail (transfer_service.go:106-134) → a
    *    `readStream` over the changelog dir; offsets live in the checkpoint,
    *    the applied (epoch, pos) fence lives in each table.
    *  - size/time flush (handler.go:135-194) → `maxFilesPerTrigger` +
    *    processing-time trigger (AvailableNow drains and stops).
    *  - save position after Consume (handler.go:173-191) → each commit
    *    embeds its fence, so a crash between sink write and checkpoint save
    *    replays a batch the fence no-ops.
    */
  def start(spark: SparkSession, flow: Flow, cfg: Config,
      availableNow: Boolean = false): StreamingQuery = {
    val pipelineId = CdcPipeline.resolvePipelineId(cfg.checkpointDir)
    val writer = source(spark, flow, cfg).writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        withBatchRetries(cfg, batchId)(applyBatch(flow, df, batchId, cfg, pipelineId))
        // feed-side maintenance on its own cadence (fold only ever touches
        // epochs below the newest `retain`, so it cannot race the writer)
        if (flow.feedFoldEvery > 0 && batchId > 0 && batchId % flow.feedFoldEvery == 0)
          flow.feedDirs.foreach(Feed.maybeFoldFeedAsync(spark, _, flow.feedRetainEpochs))
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime(cfg.triggerMs))).start()
  }

  /** In-place retry with backoff for transient sink/merge failures. Safe to
    * retry blindly: a failed merge has not committed, a merge that DID
    * commit before the failure surfaced is fenced to a no-op on retry, and
    * a feed epoch is overwritten.
    */
  private def withBatchRetries[T](cfg: Config, epoch: Long,
      attempt: Int = 0)(f: => T): T =
    try {
      cfg.failureInjector.foreach(_(epoch))
      f
    } catch {
      // NonFatal only: OOM/interrupt/control-flow must propagate, not spin
      // a dying JVM through more full merge attempts
      case scala.util.control.NonFatal(e) if attempt < cfg.maxBatchRetries =>
        System.err.println(s"[graft] batch $epoch failed " +
          s"(attempt ${attempt + 1}/${cfg.maxBatchRetries}), retrying in " +
          s"${cfg.retryBackoffMs} ms: $e")
        Thread.sleep(cfg.retryBackoffMs)
        withBatchRetries(cfg, epoch, attempt + 1)(f)
    }

  /** Supervised run: restart the streaming query from its checkpoint after a
    * terminal failure, up to `maxRestarts` times — the reference's
    * endpoint-disable + 1 s ping-reconnect loop
    * (service/transfer_service.go:328-354) as query supervision. Combined
    * with [[withBatchRetries]], transient failures recover in place and
    * poisoned-but-recoverable runs recover across restarts; a persistent
    * failure still surfaces after the budget.
    */
  def runSupervised(spark: SparkSession, flow: Flow, cfg: Config,
      availableNow: Boolean = true): Unit = {
    var restarts = 0
    while (true) {
      val startedAt = System.nanoTime()
      val q = start(spark, flow, cfg, availableNow)
      try {
        q.awaitTermination()
        return
      } catch {
        case scala.util.control.NonFatal(e)
            if restarts < cfg.maxRestarts ||
              (System.nanoTime() - startedAt) / 1000000L >= cfg.restartResetMs =>
          // a healthy run longer than restartResetMs refunds the budget:
          // the counter guards against crash LOOPS, not lifetime crash COUNT
          if ((System.nanoTime() - startedAt) / 1000000L >= cfg.restartResetMs)
            restarts = 0
          restarts += 1
          System.err.println(s"[graft] streaming query died " +
            s"(restart $restarts/${cfg.maxRestarts} in ${cfg.restartBackoffMs} ms): " +
            s"${e.getMessage}")
          try q.stop() catch { case _: Throwable => }
          Thread.sleep(cfg.restartBackoffMs)
      }
    }
  }

  /** Drain everything currently in the changelog and stop: AvailableNow
    * respects maxFilesPerTrigger, so the run still goes through the
    * micro-batch + fence + commit path per chunk. `awaitMaintenance` then
    * joins async compaction and this flow's feed folds.
    */
  def runToCompletion(spark: SparkSession, flow: Flow, cfg: Config,
      awaitMaintenance: Boolean = false): Unit = {
    start(spark, flow, cfg, availableNow = true).awaitTermination()
    if (awaitMaintenance) {
      MergeInto.awaitCompaction()
      // scoped: another pipeline's fold in the same JVM must not block
      Feed.awaitFeedFold(flow.feedDirs)
    }
  }
}
