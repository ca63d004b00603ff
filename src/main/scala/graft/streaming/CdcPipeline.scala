package graft.streaming

import graft.core.Types
import graft.lake.LakeTable
import graft.merge.MergeResult
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The incremental-sync run (reference lifecycle §3.1 of SURVEY.md):
  * change-log tail → decode → micro-batch → idempotent MERGE → atomic
  * commit, resumable from checkpoint — the one-route flow of
  * [[RouteEngine]], which holds the loop and its mapping to the reference.
  * [[Config]] is the engine configuration every flow runs under.
  */
object CdcPipeline {

  final case class Config(
      changelogDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 4,
      triggerMs: Long = 200L, // reference default flush_bulk_interval=200ms
      saltedDedup: Int = 0,
      mergeMode: String = "mor", // mor = O(batch) commits; cow = resolved buckets
      // fold deltas into base when deltaRows ≥ ratio × baseRows (and ≥ minRows)
      autoCompactRatio: Double = 4.0,
      autoCompactMinRows: Long = 200000L,
      registry: Map[Int, StructType] = Types.transcriptSchemas,
      // explicitly rebind a table last written by a different checkpoint
      // (the set-offset-style operator override; see MergeInto fence docs)
      allowPipelineTakeover: Boolean = false,
      // B6 sink-failure recovery (reference: transfer_service.go:328-354
      // disables the endpoint and ping-reconnects every 1 s): transient
      // failures retry in place with backoff; a batch that exhausts its
      // retries kills the query, which [[runSupervised]] restarts from the
      // checkpoint — the fence no-ops anything already committed.
      maxBatchRetries: Int = 3,
      retryBackoffMs: Long = 100L,
      maxRestarts: Int = 3,
      restartBackoffMs: Long = 500L,
      // a query that ran healthily this long earns its restart budget back —
      // without this, sporadic terminal errors over weeks exhaust the budget
      // and kill a healthy pipeline permanently (the reference reconnects
      // indefinitely: transfer_service.go:328-354)
      restartResetMs: Long = 60000L,
      // test hook: invoked with the batchId INSIDE the retried region, so
      // specs can inject transient sink failures deterministically
      failureInjector: Option[Long => Unit] = None)

  /** Checkpoint identity: a UUID persisted INSIDE the checkpoint dir, bound
    * to every commit's fence. Structured Streaming batchIds restart at 0 for
    * a fresh checkpoint — without this binding, re-pointing `run` at an
    * existing table with a new checkpoint would silently fence batches of
    * never-applied events as "replays" (the Delta txn-appId pattern).
    */
  def resolvePipelineId(checkpointDir: String): String = {
    import java.nio.file.{Files, Paths}
    if (checkpointDir == null || checkpointDir.isEmpty) return ""
    val dir = Paths.get(checkpointDir)
    Files.createDirectories(dir)
    val f = dir.resolve("graft-pipeline-id")
    if (Files.exists(f)) {
      // An empty/corrupt id file is an ERROR, never a fallback: returning ""
      // here would silently degrade fenced() to the epoch-only fence — the
      // exact data-loss mode the identity binding exists to prevent.
      val id = new String(Files.readAllBytes(f), "UTF-8").trim
      require(id.matches("[0-9a-fA-F-]{36}"),
        s"corrupt pipeline-id file $f (${id.length} chars) — a crash mid-" +
          "write left it unreadable; delete it to mint a fresh identity " +
          "(with allowPipelineTakeover if the table was already written)")
      id
    } else {
      val id = java.util.UUID.randomUUID().toString
      // temp-file + ATOMIC_MOVE: the id file is either absent or complete,
      // never truncated (a plain write could crash half-flushed and poison
      // every later start)
      val tmp = Files.createTempFile(dir, ".graft-pipeline-id", ".tmp")
      Files.write(tmp, id.getBytes("UTF-8"))
      // hard-link publish (same primitive as commit publish): unlike
      // ATOMIC_MOVE — whose POSIX rename silently REPLACES an existing
      // target, letting two racing starts each keep their own id — link
      // FAILS if the file exists, so the loser adopts the winner's id
      try Files.createLink(f, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          return resolvePipelineId(checkpointDir)
      }
      Files.deleteIfExists(tmp)
      id
    }
  }

  /** The one-route flow: every decoded event MERGEs into `table`. */
  def flow(table: LakeTable, cfg: Config): RouteEngine.Flow =
    RouteEngine.Flow(Seq(RouteEngine.LakeRoute("table", table, cfg.registry)))

  /** Apply one micro-batch of wire-form events (decode → MERGE sized by the
    * trigger's row estimate → async compaction). Exposed for tests and the
    * batch replayer.
    */
  def applyBatch(table: LakeTable, wire: DataFrame, epoch: Long,
      cfg: Config, pipelineId: String = ""): MergeResult =
    RouteEngine.applyBatch(flow(table, cfg), wire, epoch, cfg, pipelineId).values.head

  /** Start the continuous streaming query. */
  def start(spark: SparkSession, table: LakeTable, cfg: Config,
      availableNow: Boolean = false): StreamingQuery =
    RouteEngine.start(spark, flow(table, cfg), cfg, availableNow)

  /** [[RouteEngine.runSupervised]] over the one-route flow. */
  def runSupervised(spark: SparkSession, table: LakeTable, cfg: Config,
      availableNow: Boolean = true): Unit =
    RouteEngine.runSupervised(spark, flow(table, cfg), cfg, availableNow)

  /** Drain everything currently in the changelog and stop (the test/bench
    * entry). Does not wait for async compaction.
    */
  def runToCompletion(spark: SparkSession, table: LakeTable, cfg: Config): Unit =
    RouteEngine.runToCompletion(spark, flow(table, cfg), cfg)
}
