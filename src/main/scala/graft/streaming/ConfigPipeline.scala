package graft.streaming

import graft.changelog.ChangelogCodec
import graft.config.{GraftConfig, RouteConf}
import graft.core.Types
import graft.lake.LakeTable
import graft.merge.{MergeResult, SinkOpState}
import graft.rules.{ChangefeedOut, ExprTransform, RulePipeline}
import graft.streaming.RouteEngine.{FeedRoute, LakeRoute, Route}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Config-file-driven pipeline: `GraftConfig` (one YAML) → a
  * [[RouteEngine.Flow]] — the reference's primary UX (declare rules in
  * app.yml, run the binary; global/config.go:142-196, rule compile
  * global/rule.go:345-407) without writing Scala.
  *
  * Each route is filter → rule transform (all Catalyst expressions,
  * including the runtime `filter`/`computed` strings) → apply:
  *   - `lake` routes MERGE into their own LakeTable, each with its own
  *     (epoch, offset, pipelineId) fence ⇒ per-route exactly-once;
  *   - `changefeed` routes write keyed (key, value) JSON messages (or
  *     configured `ops` rows — the script-sink analog) as the epoch's feed
  *     partition, overwritten on replay ([[Feed]]); with `state_dir` the
  *     ops also fold into an exactly-once state table;
  *   - a `dynamic` route is wildcard discovery ([[DynamicRoutePipeline]]).
  */
object ConfigPipeline {

  /** The decode registry for a config: the YAML `schemas:` block when
    * declared, the built-in transcript registry otherwise.
    */
  def registryOf(c: GraftConfig): Map[Int, StructType] =
    if (c.schemas.nonEmpty) c.schemas else Types.transcriptSchemas

  /** The engine configuration of a YAML pipeline (retry and restart knobs
    * keep their defaults).
    */
  def pipelineConfig(c: GraftConfig): CdcPipeline.Config =
    CdcPipeline.Config(c.changelogDir, c.checkpointDir,
      maxFilesPerTrigger = c.maxFilesPerTrigger, triggerMs = c.triggerMs,
      saltedDedup = c.saltedDedup, mergeMode = c.mergeMode,
      autoCompactRatio = c.autoCompactRatio,
      autoCompactMinRows = c.autoCompactMinRows,
      registry = registryOf(c),
      allowPipelineTakeover = c.allowPipelineTakeover)

  /** A route's output shape under one decode-schema version. */
  private def outShapeFor(spark: SparkSession, r: RouteConf,
      decodeSchema: StructType): StructType = {
    val decodedShape = ChangelogCodec.decode(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Types.changeEventWireSchema), decodeSchema)
    StructType(routeTransform(decodedShape, r).schema
      .filterNot(f => ChangelogCodec.MetaCols.contains(f.name)))
  }

  /** Build the engine routes of a (non-dynamic) config, creating or loading
    * the tables they write. A new lake table's schema is the rule's OUTPUT
    * shape (decode schema → rule projection, meta columns dropped) — so
    * renames/defaults/computed columns are first-class. It is created at the
    * registry's OLDEST version and evolves per observed `_schema_id` (the
    * reference's OnTableChanged rule refresh,
    * service/transfer_service.go:298-326) via the per-route output registry.
    */
  def build(spark: SparkSession, c: GraftConfig): Seq[Route] = {
    // config-string expressions (rule filter/computed, ops) may call the
    // engine's custom SQL functions (pg_text_array, rolling_min64, …)
    graft.functions.GraftFunctions.register(spark)
    val registry = registryOf(c)
    c.routes.map { r =>
      if (r.target != "lake") {
        val state = Option(r.stateDir).map(SinkOpState.createOrLoad(spark, _, r.numBuckets))
        FeedRoute(r.name, r.outDir, { decoded =>
          val routed = routeTransform(decoded, r)
          if (r.ops.isEmpty) ChangefeedOut.toMessages(routed.drop("_schema_id"),
            r.keyColumns, r.reserveRawData)
          // state_dir routes carry the total op order on the feed too
          else if (state.isDefined) ExprTransform.runOrdered(routed, r.ops)
          else ExprTransform.run(routed, r.ops)
        }, withBefore = r.reserveRawData, state = state)
      } else {
        // schema_id → RULE-OUTPUT shape per registry version: the evolution
        // timeline of THIS route's table
        val outRegistry = registry.map { case (sid, s) =>
          sid -> outShapeFor(spark, r, s) }
        val table =
          if (LakeTable.exists(r.tableDir)) LakeTable.load(spark, r.tableDir)
          else {
            val sid0 = registry.keys.min
            val outShape = outRegistry(sid0)
            r.keyColumns.foreach(k => require(outShape.fieldNames.contains(k),
              s"route ${r.name}: key column $k missing from rule output " +
                s"(${outShape.fieldNames.mkString(",")})"))
            val bucketCols = if (r.bucketColumns.nonEmpty) r.bucketColumns
              else Seq(r.keyColumns.head)
            LakeTable.create(spark, r.tableDir, outShape,
              r.keyColumns, bucketCols, r.numBuckets, schemaId = sid0)
          }
        LakeRoute(r.name, table, outRegistry, routeTransform(_, r))
      }
    }
  }

  /** Route predicate + rule over a decoded batch, meta columns preserved.
    * When the batch carries a `_before` image (decoded for reserve_raw_data
    * routes), a changefeed route shapes it through the SAME rule projection
    * — the reference applies its PaddingMap to `req.Old` too
    * (service/endpoint/endpoint.go:284-306) — and every other route drops it.
    */
  def routeTransform(decoded: DataFrame, r: RouteConf): DataFrame = {
    val hasBefore = decoded.columns.contains("_before")
    val preserve =
      if (hasBefore) ChangelogCodec.MetaColsWithBefore else ChangelogCodec.MetaCols
    val out = RulePipeline(decoded.where(expr(r.filter)), r.rule, preserve = preserve)
    if (!hasBefore) out
    else if (r.target != "lake" && r.reserveRawData) {
      val beforeFields = decoded.schema("_before").dataType
        .asInstanceOf[StructType].fieldNames.toSeq
      out.withColumn("_before",
        RulePipeline.applyToStruct(col("_before"), beforeFields, r.rule))
    } else out.drop("_before")
  }

  /** YAML `target: dynamic` route → [[DynamicRoutePipeline]] configs — the
    * reference's `include_table_regex` UX in the one-file surface
    * (transfer_service.go:197-237). A dynamic route is its own stream shape
    * (per-batch discovery), so it must be the config's only route.
    */
  def dynamicConfigs(c: GraftConfig): (DynamicRoutePipeline.Config, CdcPipeline.Config) = {
    require(c.routes.size == 1,
      "a dynamic route runs as its own stream; declare it alone in the config")
    val r = c.routes.head
    val d = DynamicRoutePipeline.Config(
      r.routeCol, r.pattern, r.tablesDir, r.keyColumns,
      if (r.bucketColumns.nonEmpty) r.bucketColumns else Seq(r.keyColumns.head),
      r.numBuckets,
      snapshotDirFor = DynamicRoutePipeline.snapshotDirs(Option(r.snapshotDirPattern)))
    (d, pipelineConfig(c))
  }

  /** The config as an engine flow: its routes under its wire format and
    * feed-fold cadence, or the wildcard discovery of a dynamic route.
    */
  def flow(spark: SparkSession, c: GraftConfig): RouteEngine.Flow =
    if (c.routes.exists(_.target == "dynamic")) {
      require(c.wireFormat == "graft",
        "dynamic routes read the graft wire format (table routing needs the " +
          "route column on the wire); decode the debezium feed first")
      val (d, cfg) = dynamicConfigs(c)
      DynamicRoutePipeline.flow(spark, d, new DynamicRoutePipeline.State, cfg)
    } else RouteEngine.Flow(build(spark, c), c.wireFormat, c.tableStartVersion,
      feedFoldEvery = c.feedFoldEvery, feedRetainEpochs = c.feedRetainEpochs)

  /** Apply one micro-batch of `c`'s wire format to built routes. */
  def applyBatch(routes: Seq[Route], wire: DataFrame, epoch: Long,
      c: GraftConfig, pipelineId: String): Map[String, MergeResult] =
    RouteEngine.applyBatch(RouteEngine.Flow(routes, c.wireFormat), wire, epoch,
      pipelineConfig(c), pipelineId)

  /** Drain, then join async compaction and this config's feed folds. */
  def runToCompletion(spark: SparkSession, c: GraftConfig): Unit =
    RouteEngine.runToCompletion(spark, flow(spark, c), pipelineConfig(c),
      awaitMaintenance = true)
}
