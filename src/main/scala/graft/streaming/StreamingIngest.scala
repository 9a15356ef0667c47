package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.{IndexBuilder, IndexConfig}
import graft.model.Turn

/** Structured-Streaming front end for the engine (the reference's only
  * "incremental" behavior is append-to-existing-index batch runs,
  * NeoFinderToES.java:184-192; this is its streaming-native upgrade).
  *
  * Pattern: `readStream` over arriving transcript files → `foreachBatch`
  * → each micro-batch becomes one new index bucket/segment (exactly the
  * Lucene segment model: docId-disjoint ranges, query-time merge across
  * segments). docIds for batch b start at a per-batch base offset so
  * ranges never overlap; statistics merge at query time and
  * [[graft.index.Compaction]] merges the segments themselves.
  *
  * Record identity has one path: every batch (typed or fielded) goes
  * through one append body, and upserts and deletes share one
  * bloom-pruned key→tombstone step.
  */
object StreamingIngest {

  /** Incremental ingest: every micro-batch of turns is assigned docIds
    * after the current max and appended as a new bucket segment.
    * Returns the running query; stop it via `.stop()`.
    */
  def ingestToIndex(
      spark: SparkSession,
      sourceDir: String,
      indexDir: String,
      cfg: IndexConfig = IndexConfig(numBuckets = 1),
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[Turn].schema
    val stream = spark.readStream.schema(schema).parquet(sourceDir).as[Turn]
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$indexDir/_stream_checkpoint")
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        appendSegment(spark, batch, indexDir, batchId, cfg)
      }
      .start()
  }

  /** One micro-batch → one segment directory under the index, with its
    * own manifest cells (lineage = snapshotId "stream-batch-<id>"); the
    * typed view of [[appendSegmentFrame]].
    */
  def appendSegment(
      spark: SparkSession,
      batch: Dataset[Turn],
      indexDir: String,
      batchId: Long,
      cfg: IndexConfig
  ): Unit = appendSegmentFrame(spark, batch.toDF(), indexDir, batchId, cfg)

  /** One micro-batch → one segment (the one append body). The batch must
    * carry (conv_id, turn_idx, ts, text); EXTRA metadata columns ride the
    * doc store and are indexable per the cfg's `fieldCols` /
    * `numericFieldCols` / `textFieldCols` — fielded streaming ingest.
    *
    * Cross-segment LAST-WRITE-WINS upsert (the reference's `_id = path`
    * re-import semantics, BulkIndexer.java:48 — re-ingesting a
    * (conv_id, turn_idx) key must supersede the older document, not
    * coexist with it): the batch is deduped and numbered from the first
    * free docId in one range shuffle ([[graft.index.DocIds]]); after the
    * segment build commits, every older LIVE segment's doc matching one
    * of the batch's keys is tombstoned ([[tombstoneMatching]]);
    * `MultiSearcher` skips tombstoned docs like a must_not list and
    * `Compaction` drops them physically.
    *
    * Ordering: tombstones are written AFTER the build commits, so a
    * crash mid-batch leaves the OLD docs authoritative (never a gap);
    * the batch retry re-runs the superseding join idempotently
    * (duplicate tombstones are harmless).
    */
  def appendSegmentFrame(
      spark: SparkSession,
      batch: DataFrame,
      indexDir: String,
      batchId: Long,
      cfg: IndexConfig
  ): Unit = {
    if (batch.isEmpty) return
    val segDir = s"$indexDir/seg-$batchId"
    val docs = graft.index.DocIds.dedupAndAssignFrame(batch, cfg.partitions,
      base = currentMaxDocId(spark, indexDir, skip = segDir) + 1)
    val report = new IndexBuilder(spark, segDir, s"stream-batch-$batchId", cfg)
      .buildFrom(docs)
    graft.index.Tombstones.writeKeyBloom(spark, segDir, docs, report.n)
    // the LWW dedup left one row per key
    tombstoneMatching(spark, indexDir, docs.select(col("conv_id"), col("turn_idx")), report.n,
      docs.select(col("conv_id")).distinct().as[String](Encoders.STRING).take(MaxBloomProbes + 1),
      skip = Some(segDir))
    docs.unpersist(blocking = false)
  }

  /** Explicit deletes (ES DELETE-by-id parity — the reference's ES
    * delegation supports removal; append-only segments cannot): every
    * live doc matching a (conv_id, turn_idx) key is tombstoned. Physical
    * removal happens at the next compaction.
    */
  def deleteTurns(spark: SparkSession, indexDir: String,
      keys: Seq[(String, Int)]): Long = {
    import spark.implicits._
    if (keys.isEmpty) return 0L
    tombstoneMatching(spark, indexDir, keys.toDF("conv_id", "turn_idx"), keys.size.toLong,
      keys.map(_._1).distinct, skip = None)
  }

  /** Delete every turn of the given conversations (ES delete-by-query
    * on the conversation key).
    */
  def deleteConvs(spark: SparkSession, indexDir: String,
      convIds: Seq[String]): Long = {
    import spark.implicits._
    if (convIds.isEmpty) return 0L
    tombstoneMatching(spark, indexDir, convIds.toDF("conv_id"), Long.MaxValue, convIds.distinct,
      skip = None)
  }

  /** The most distinct conv_ids a key→tombstone step probes the
    * segment blooms with; a larger call scans every segment.
    */
  private val MaxBloomProbes = 100000

  /** The doc-store key columns a key→tombstone step reads, declared
    * (`DocIds` numbers `turn_idx` as an int): no inference job per scanned
    * segment.
    */
  private val KeySchema = org.apache.spark.sql.types.StructType.fromDDL(
    "docId BIGINT, conv_id STRING, turn_idx INT")

  /** The one key→tombstone step (upserts and deletes): tombstones every
    * doc of a live segment other than `skip` whose key columns match a
    * row of `keys` — (conv_id, turn_idx) or (conv_id) — and returns how
    * many. `convIds` are the keys' distinct
    * conv_ids (evaluated only when another live segment exists): only
    * segments whose conv_id bloom (written at build time) might hold one
    * of them are scanned — per-call cost ∝ candidate segments, not
    * corpus; a segment without a bloom, or more than [[MaxBloomProbes]]
    * conv_ids, is scanned. The scan is one (docId, conv_id, turn_idx)
    * semi-join, read with [[KeySchema]], against the broadcast `keys`,
    * written by one [[graft.index.Tombstones.append]] sized to the docs
    * it can match: at most `keyDocs` (a (conv_id, turn_idx) key names one
    * doc; `Long.MaxValue` when unknown) and at most the candidates' docs.
    */
  private def tombstoneMatching(spark: SparkSession, indexDir: String, keys: DataFrame,
      keyDocs: Long, convIds: => Seq[String], skip: Option[String]): Long = {
    val skipName = skip.map(new org.apache.hadoop.fs.Path(_).getName)
    val segs = graft.index.SegmentCatalog.liveSegments(spark, indexDir)
      .filterNot(s => skipName.contains(new org.apache.hadoop.fs.Path(s).getName))
    if (segs.isEmpty) return 0L
    val probes = Some(convIds).filter(_.length <= MaxBloomProbes)
    val candidates = segs.filter { seg =>
      (probes, graft.index.Tombstones.readKeyBloom(spark, seg)) match {
        case (Some(ids), Some(bloom)) => ids.exists(bloom.mightContain)
        case _ => true
      }
    }
    if (candidates.isEmpty) return 0L
    // from the docs cells (a segment a crash left without one adds
    // nothing: the count only sizes the write)
    val candidateDocs = candidates
      .map(new IndexBuilder(spark, _, "").readManifest("docs").fold(0L)(_.postingsEmitted)).sum
    val doomed = candidates.map { s =>
      spark.read.schema(KeySchema).parquet(s"$s/docs")
    }.reduce(_ unionByName _)
      .join(broadcast(keys), keys.columns.toSeq, "left_semi")
      .select(col("docId"))
    graft.index.Tombstones.append(spark, indexDir, doomed,
      IndexBuilder.partsFor(math.min(keyDocs, candidateDocs), Int.MaxValue))
  }

  /** Max docId across live segments other than `skip` — from each
    * segment's `docs` manifest cell (docIdHi is the exclusive bound the
    * build records), so this is pure filesystem metadata: ZERO Spark jobs
    * per micro-batch (a per-segment max(docId) job made ingest degrade
    * O(segments)). Falls back to a scan only for a segment
    * with a missing/corrupt manifest: an empty doc store counts as no
    * docIds, and an unreadable one throws (guessing would let the next
    * batch reuse that segment's docIds).
    *
    * `skip` is the segment the batch itself writes: a retried batch finds
    * it half-built (a crash before its docs cell) or whole (a crash
    * after), and either way the retry numbers from the same base as the
    * first attempt — its docs are rewritten, or kept by the resumed build.
    */
  private[streaming] def currentMaxDocId(spark: SparkSession, indexDir: String,
      skip: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(indexDir))) return -1L
    // live segments only (pointer-resolved): retired segments hold docIds
    // the compacted segment also covers, and a mid-compaction crash
    // resolves to the OLD set — either way the max is never understated
    val skipName = new org.apache.hadoop.fs.Path(skip).getName
    val segs = graft.index.SegmentCatalog.liveSegments(fs, indexDir)
      .filterNot(s => new org.apache.hadoop.fs.Path(s).getName == skipName)
    if (segs.isEmpty) -1L
    else segs.map { s =>
      new IndexBuilder(spark, s, "", IndexConfig()).readManifest("docs") match {
        case Some(m) => m.docIdHi - 1
        case None =>
          val mx = spark.read.schema("docId BIGINT").parquet(s"$s/docs")
            .agg(max(col("docId"))).head()
          if (mx.isNullAt(0)) -1L else mx.getLong(0)
      }
    }.max
  }

  /** Streaming analytics over the turn stream itself: per-role turn
    * counts in event-time windows with a watermark (SURVEY.md §2.10 —
    * the windowed-agg shape; demo of the engine's streaming surface).
    */
  def turnRates(turns: DataFrame, window: String, watermark: String): DataFrame =
    turns
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("role"))
      .agg(count(lit(1)).as("n_turns"), approx_count_distinct(col("conv_id")).as("n_convs"))
}
