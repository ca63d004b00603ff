package graft.streaming

import graft.changelog.ChangelogGenerator.deleteRecursively
import graft.core.Types
import graft.rules.ChangefeedOut
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The changefeed feed on disk — what a [[RouteEngine.FeedRoute]] writes and
  * consumers read. The reference publishes one JSON message per change
  * event to Kafka/RocketMQ/RabbitMQ (reference:
  * service/endpoint/kafka.go:205-230, rocket.go:232-260,
  * rabbit.go:194-223); here each micro-batch lands as one partition dir
  * `outDir/epoch=N`, OVERWRITTEN on replay — a crash between the write and
  * the checkpoint save re-runs the batch into the same dir instead of
  * appending duplicates (the feed's analog of the lake routes' fence).
  * [[foldFeed]] consolidates old epochs; [[readFeed]] serves both.
  */
object Feed {

  /** The unfiltered changefeed: every decoded event as one (key, value)
    * message keyed by row key — fixing the reference's random partitioner
    * (kafka.go:51) so per-key order survives downstream.
    */
  def changefeed(outDir: String, keyCols: Seq[String] = Types.transcriptKey,
      reserveRawData: Boolean = false): RouteEngine.Flow =
    RouteEngine.Flow(Seq(RouteEngine.FeedRoute("changefeed", outDir,
      ChangefeedOut.toMessages(_, keyCols, reserveRawData), reserveRawData)))

  /** Write one epoch of route `route`'s feed. */
  def write(out: DataFrame, outDir: String, epoch: Long, route: String): Unit = {
    // a RESET checkpoint against an existing folded feed restarts batchIds
    // at 0: epochs at/below the fold watermark would be hidden by readFeed's
    // pruning filter and then DELETED by the next fold's deferred cleanup —
    // fail fast instead of silently losing new messages
    readFoldCommit(outDir).foreach(fc =>
      require(epoch > fc.watermark,
        s"route $route: epoch $epoch is at/below the feed's " +
          s"fold watermark ${fc.watermark} — the checkpoint was reset " +
          "against an existing feed; use a fresh out_dir, or clear " +
          "_fold.json + _folded after verifying the overlap"))
    // a dir written by a flat-append layout would leave parquet mixed with
    // partition dirs — unreadable by any partition-discovering reader
    val root = Paths.get(outDir)
    if (Files.isDirectory(root)) {
      val flat = Files.list(root)
      try require(!flat.anyMatch(p => p.getFileName.toString.startsWith("part-")),
        s"changefeed outDir $outDir holds flat pre-epoch " +
          "output; move it aside or point the route at a fresh dir")
      finally flat.close()
    }
    out.write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
  }

  /** Read a feed — folded history (if [[foldFeed]] has run) plus the live
    * per-epoch partition dirs above the fold watermark — with the epoch
    * column dropped: consumers see the plain (key, value) shape. The
    * `epoch > watermark` predicate partition-prunes the live scan, so
    * folded-but-not-yet-deleted dirs contribute no data twice.
    */
  def readFeed(spark: SparkSession, outDir: String): DataFrame =
    readFoldCommit(outDir) match {
      case None => spark.read.parquet(outDir).drop("epoch")
      case Some(fc) =>
        // ≤ maxGenerations fold dirs by construction — a bounded union
        val folded = fc.dirs.map(d =>
          spark.read.parquet(s"$outDir/_folded/$d").drop("epoch"))
          .reduce(_ unionByName _)
        if (epochDirs(outDir).forall(_._1 <= fc.watermark)) folded
        else folded.unionByName(spark.read.parquet(outDir)
          .where(col("epoch") > fc.watermark).drop("epoch"))
    }

  // ------------------------------------------------------ feed retention

  /** Fold pointer: everything at `epoch ≤ watermark` lives consolidated in
    * the listed generation dirs under `outDir/_folded/` (oldest first); the
    * per-epoch dirs above the watermark are live.
    */
  final case class FoldCommit(watermark: Long, dirs: Seq[String])

  private implicit val foldFormats: org.json4s.Formats = org.json4s.DefaultFormats

  def readFoldCommit(outDir: String): Option[FoldCommit] = {
    val f = Paths.get(outDir, "_fold.json")
    if (!Files.exists(f)) None
    else Some(org.json4s.jackson.Serialization.read[FoldCommit](
      new String(Files.readAllBytes(f), "UTF-8")))
  }

  private def list(dir: Path): Vector[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  private def epochDirs(outDir: String): Seq[(Long, Path)] = {
    val root = Paths.get(outDir)
    if (!Files.isDirectory(root)) Nil
    else list(root).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("epoch=") && Files.isDirectory(p))
        scala.util.Try(n.stripPrefix("epoch=").toLong).toOption.map(_ -> p)
      else None
    }
  }

  /** Async fold of `outDir` on the maintenance cadence — the feed-side
    * analog of `MergeInto.maybeCompactAsync`, single-flight per dir. A
    * failed fold leaves a readable feed (the pointer publish is atomic) and
    * the next cadence retries. Returns true iff a fold was started.
    */
  private val folding = new graft.core.SingleFlight("feed fold")
  def maybeFoldFeedAsync(spark: SparkSession, outDir: String, retainLast: Int): Boolean =
    folding.start(outDir) { foldFeed(spark, outDir, retainLast); () }

  /** Join in-flight folds — scoped to `outDirs` (the dirs of the pipeline
    * being drained) so a hung fold of some OTHER out dir in the same JVM
    * cannot block this caller; bounded by `timeoutMs` (the atomic pointer
    * publish keeps the feed readable either way).
    */
  def awaitFeedFold(outDirs: Iterable[String], timeoutMs: Long = 600000L): Unit =
    folding.await(outDirs, timeoutMs)

  /** Feed maintenance — the retention the reference gets for free from its
    * MQ broker (messages age out of Kafka/RocketMQ by broker policy; a
    * file-based feed has no broker): a long-running 200 ms-trigger stream
    * writes one `epoch=N` dir per micro-batch FOREVER (~13M dirs in a
    * month), and partition discovery degrades with the dir count.
    *
    * Folds every epoch dir except the newest `retainLast` into a
    * consolidated parquet GENERATION under `outDir/_folded/`, sized to
    * ~128 MB output files, then atomically publishes the `_fold.json`
    * pointer. Lossless: [[readFeed]] returns byte-identical rows before and
    * after.
    *
    * LSM-style generations keep fold cost O(new data), not O(feed history):
    * a minor fold writes ONLY the newly folded epochs as a new generation
    * (earlier generations are untouched); when the generation count would
    * exceed `maxGenerations`, that fold is MAJOR — it merges every
    * generation plus the foldable epochs into one dir. Rewriting history
    * every fold would be quadratic over a long stream's life; the threshold
    * amortizes the rewrite to ~1/maxGenerations of folds while bounding the
    * read-side union at maxGenerations relations.
    *
    * Crash/replay safety:
    *   - the stream only ever overwrites the LAST uncommitted epoch on
    *     replay, so `retainLast ≥ 1` keeps every replayable dir live
    *     (default 8 is generous);
    *   - the commit pointer is published via ATOMIC_MOVE — readers see the
    *     old fold or the new one, never a half state;
    *   - folded dirs and the superseded fold are NOT deleted by the fold
    *     that obsoletes them: cleanup is deferred to the NEXT invocation
    *     (same idea as the lake's dropped-version vacuum), giving in-flight
    *     readers a full fold cycle to finish while keeping the live dir
    *     count bounded by one fold period + retainLast;
    *   - a fold that crashes before publish leaves only an orphan staging
    *     dir, overwritten or removed by the next run.
    */
  def foldFeed(spark: SparkSession, outDir: String,
      retainLast: Int = 8, maxGenerations: Int = 16): Option[FoldCommit] = {
    require(retainLast >= 1, "retainLast must keep the replayable tail live")
    require(maxGenerations >= 1, "need at least one generation")
    val prev = readFoldCommit(outDir)
    // deferred cleanup from the previous fold: live dirs its commit already
    // covers, and any fold dir the pointer no longer references
    prev.foreach { p =>
      epochDirs(outDir).filter(_._1 <= p.watermark).foreach(d => deleteRecursively(d._2))
      val froot = Paths.get(outDir, "_folded")
      if (Files.isDirectory(froot))
        list(froot).filter(d => !p.dirs.contains(d.getFileName.toString))
          .foreach(deleteRecursively)
    }
    val live = epochDirs(outDir)
    val foldable = live.map(_._1).sorted.dropRight(retainLast)
    if (foldable.isEmpty) return prev
    val w = foldable.max
    val prevDirs = prev.map(_.dirs).getOrElse(Nil)
    val major = prevDirs.size + 1 > maxGenerations
    // ONE partition-discovered read with an epoch<=w pruning filter — never
    // a union of per-dir relations, which at the dir counts this operator
    // exists for (millions of epochs) would explode the plan. Minor folds
    // read ONLY the foldable epochs; a major fold also re-reads the
    // existing generations to merge them.
    val liveRead = spark.read.parquet(outDir)
      .where(col("epoch") <= w).withColumn("epoch", col("epoch").cast("long"))
    val genReads = if (major) prevDirs.map(d =>
      spark.read.parquet(s"$outDir/_folded/$d")
        .withColumn("epoch", col("epoch").cast("long"))) else Nil
    val all = (Seq(liveRead) ++ genReads).reduce(_ unionByName _)
    // consolidate toward ~128 MB files (the fold's whole point is undoing
    // per-trigger file shatter); coalesce avoids a shuffle
    def dirBytes(p: Path): Long = {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally s.close()
    }
    val bytes = live.filter(_._1 <= w).map(d => dirBytes(d._2)).sum +
      (if (major) prevDirs.map(d => dirBytes(Paths.get(outDir, "_folded", d))).sum else 0L)
    val nOut = math.max(1L, math.min(1024L, bytes / (128L << 20) + 1)).toInt
    val dest = s"$outDir/_folded/fold-$w"
    all.coalesce(nOut).write.mode("overwrite").parquet(dest)
    val fc = FoldCommit(w, (if (major) Nil else prevDirs) :+ s"fold-$w")
    val tmp = Files.createTempFile(Paths.get(outDir), "._fold", ".tmp")
    Files.write(tmp, org.json4s.jackson.Serialization.write(fc).getBytes("UTF-8"))
    Files.move(tmp, Paths.get(outDir, "_fold.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    Some(fc)
  }
}
