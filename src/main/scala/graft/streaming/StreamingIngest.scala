package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.{IndexBuilder, IndexConfig}
import graft.model.{Doc, Turn}

/** Structured-Streaming front end for the engine (the reference's only
  * "incremental" behavior is append-to-existing-index batch runs,
  * NeoFinderToES.java:184-192; this is its streaming-native upgrade).
  *
  * Pattern: `readStream` over arriving transcript files → `foreachBatch`
  * → each micro-batch becomes one new index bucket/segment (exactly the
  * Lucene segment model: docId-disjoint ranges, query-time merge across
  * segments). docIds for batch b start at a per-batch base offset so
  * ranges never overlap; corpus stats/dictionary are refreshed by the
  * periodic finalize (or a full rebuild compaction — out of scope here).
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
    * own manifest cells (lineage = snapshotId "stream-batch-<id>").
    *
    * Cross-segment LAST-WRITE-WINS upsert (the reference's `_id = path`
    * re-import semantics, BulkIndexer.java:48 — re-ingesting a
    * (conv_id, turn_idx) key must supersede the older document, not
    * coexist with it): after the segment build commits, every older
    * LIVE segment's doc matching one of the batch's keys is tombstoned
    * ([[graft.index.Tombstones]]); `MultiSearcher` skips tombstoned
    * docs like a must_not list and `Compaction` drops them physically.
    * The key lookup is one column-pruned (conv_id, turn_idx, docId)
    * semi-join against ONLY the segments whose conv_id bloom might
    * contain a batch key (per-segment blooms written at build time) —
    * per-batch cost ∝ candidate segments, not corpus.
    *
    * Ordering: tombstones are written AFTER the build commits, so a
    * crash mid-batch leaves the OLD docs authoritative (never a gap);
    * the batch retry re-runs the superseding join idempotently
    * (duplicate tombstones are harmless).
    */
  def appendSegment(
      spark: SparkSession,
      batch: Dataset[Turn],
      indexDir: String,
      batchId: Long,
      cfg: IndexConfig
  ): Unit = {
    if (batch.isEmpty) return
    // numbered from `base` by the fused dedup + assign, so `docs` IS the
    // persisted frame the build reads and the unpersist below frees it
    val docs = graft.index.DocIds.dedupAndAssign(batch, cfg.partitions,
      base = currentMaxDocId(spark, indexDir) + 1)
    val segDir = s"$indexDir/seg-$batchId"
    val report = new IndexBuilder(spark, segDir, s"stream-batch-$batchId", cfg)
      .build(docs)
    graft.index.Tombstones.writeKeyBloom(spark, segDir, docs.toDF(), report.n)
    supersedeOlderSegments(spark, indexDir, segDir,
      docs.select(col("conv_id"), col("turn_idx")).distinct())
    docs.unpersist(blocking = false)
  }

  /** Frame variant of [[appendSegment]] for batches carrying EXTRA
    * metadata columns (must include conv_id, turn_idx, ts, text):
    * the columns ride the doc store and are indexable per the cfg's
    * `fieldCols` / `numericFieldCols` / `textFieldCols` — fielded
    * streaming ingest. Same LWW upsert semantics (dedup within the
    * batch, tombstone superseded keys in older segments AFTER the
    * build commits).
    */
  def appendSegmentFrame(
      spark: SparkSession,
      batch: DataFrame,
      indexDir: String,
      batchId: Long,
      cfg: IndexConfig
  ): Unit = {
    if (batch.isEmpty) return
    val docs = graft.index.DocIds.assignFrame(graft.index.DocIds.dedupFrame(batch),
      cfg.partitions, base = currentMaxDocId(spark, indexDir) + 1)
    val segDir = s"$indexDir/seg-$batchId"
    val report = new IndexBuilder(spark, segDir, s"stream-batch-$batchId", cfg)
      .buildFrom(docs)
    graft.index.Tombstones.writeKeyBloom(spark, segDir, docs, report.n)
    supersedeOlderSegments(spark, indexDir, segDir,
      docs.select(col("conv_id"), col("turn_idx")).distinct())
    docs.unpersist(blocking = false)
  }

  /** Tombstone docs in live segments OTHER than `exceptSegDir` whose
    * (conv_id, turn_idx) appears in `keys`. Bloom-pruned; `keys` is
    * batch-sized and broadcast into the semi-join.
    */
  private def supersedeOlderSegments(
      spark: SparkSession,
      indexDir: String,
      exceptSegDir: String,
      keys: org.apache.spark.sql.DataFrame
  ): Unit = {
    val exceptName = new org.apache.hadoop.fs.Path(exceptSegDir).getName
    val older = graft.index.SegmentCatalog.liveSegments(spark, indexDir)
      .filterNot(s => new org.apache.hadoop.fs.Path(s).getName == exceptName)
    if (older.isEmpty) return
    // bloom prune on the batch's distinct conv_ids — collected only when
    // small (micro-batches); an oversized batch skips pruning, never
    // correctness
    val convIds: Option[Array[String]] = {
      import spark.implicits._
      val sample = keys.select(col("conv_id")).distinct().as[String].take(100001)
      if (sample.length > 100000) None else Some(sample)
    }
    val candidates = older.filter { seg =>
      (convIds, graft.index.Tombstones.readKeyBloom(spark, seg)) match {
        case (Some(ids), Some(bloom)) => ids.exists(bloom.mightContain)
        case _ => true // no bloom / big batch: must scan
      }
    }
    if (candidates.isEmpty) return
    val oldKeys = candidates.map { s =>
      spark.read.parquet(s"$s/docs").select(col("docId"), col("conv_id"), col("turn_idx"))
    }.reduce(_ unionByName _)
    val superseded = oldKeys
      .join(org.apache.spark.sql.functions.broadcast(keys), Seq("conv_id", "turn_idx"),
        "left_semi")
      .select(col("docId"))
      .cache()
    // append only when something was actually superseded — an empty
    // tombstone store must stay absent (readers then skip the anti-join)
    if (superseded.count() > 0)
      graft.index.Tombstones.append(spark, indexDir, superseded)
    superseded.unpersist(blocking = false)
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
    deleteMatching(spark, indexDir,
      keys.toDF("conv_id", "turn_idx"), byConv = false)
  }

  /** Delete every turn of the given conversations (ES delete-by-query
    * on the conversation key).
    */
  def deleteConvs(spark: SparkSession, indexDir: String,
      convIds: Seq[String]): Long = {
    import spark.implicits._
    if (convIds.isEmpty) return 0L
    deleteMatching(spark, indexDir, convIds.toDF("conv_id"), byConv = true)
  }

  private def deleteMatching(spark: SparkSession, indexDir: String,
      keys: org.apache.spark.sql.DataFrame, byConv: Boolean): Long = {
    val segs = graft.index.SegmentCatalog.liveSegments(spark, indexDir)
    if (segs.isEmpty) return 0L
    val joinKeys = if (byConv) Seq("conv_id") else Seq("conv_id", "turn_idx")
    val all = segs.map { s =>
      spark.read.parquet(s"$s/docs").select(col("docId"), col("conv_id"), col("turn_idx"))
    }.reduce(_ unionByName _)
    val doomed = all
      .join(org.apache.spark.sql.functions.broadcast(keys), joinKeys, "left_semi")
      .select(col("docId"))
      .cache()
    val n = doomed.count()
    if (n > 0) graft.index.Tombstones.append(spark, indexDir, doomed)
    doomed.unpersist(blocking = false)
    n
  }

  /** Max docId across segments — from each segment's `docs` manifest
    * cell (docIdHi is the exclusive bound the build records), so this is
    * pure filesystem metadata: ZERO Spark jobs per micro-batch (round-2
    * review: the per-segment max(docId) job made ingest degrade
    * O(segments)). Falls back to a scan only for a segment with a
    * missing/corrupt manifest.
    */
  private[streaming] def currentMaxDocId(spark: SparkSession, indexDir: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(indexDir))) return -1L
    // live segments only (pointer-resolved): retired segments hold docIds
    // the compacted segment also covers, and a mid-compaction crash
    // resolves to the OLD set — either way the max is never understated
    val segs = graft.index.SegmentCatalog.liveSegments(fs, indexDir)
    if (segs.isEmpty) -1L
    else segs.map { s =>
      new IndexBuilder(spark, s, "", IndexConfig()).readManifest("docs") match {
        case Some(m) => m.docIdHi - 1
        case None =>
          try spark.read.parquet(s"$s/docs").agg(max(col("docId"))).head().getLong(0)
          catch { case _: Exception => -1L }
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
