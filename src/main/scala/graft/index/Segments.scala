package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Segment catalog of a streaming index directory: which `seg-*`
  * sub-indexes are LIVE. Normally that is every `seg-*` dir; after a
  * compaction the catalog pointer file retires the merged inputs in ONE
  * atomic write, which is what makes `Compaction.compactInPlace`
  * crash-safe (round-3 review: the old delete-then-rename swap had a
  * window with NO segments on disk):
  *
  *   1. compaction writes the merged index to `.compact-tmp` (dot
  *      prefix — never listed as a segment);
  *   2. the pointer file is written naming `live = seg-compacted-<g>`
  *      (not yet existing) and `retired = <merged inputs>`. Readers
  *      IGNORE a pointer whose live segment is absent, so this write
  *      changes nothing yet;
  *   3. `.compact-tmp` is renamed to `seg-compacted-<g>` — the atomic
  *      flip: the pointer is now valid and readers resolve to the
  *      compacted segment + any segments appended since;
  *   4. retired dirs and consumed tombstones are deleted (pure cleanup —
  *      a crash here leaves them on disk but out of the catalog).
  *
  * A crash at ANY step leaves a servable index: before 3 the old
  * segments (and tombstones) are authoritative; after 3 the compacted
  * one is. Segments appended after step 2 are never in the retired list,
  * so ingest can proceed concurrently with steps 3–4 (though compaction
  * itself assumes a single compactor, like the build's manifest cells).
  */
object SegmentCatalog {
  private val PointerName = "segments.props"

  final case class Pointer(live: String, retired: Set[String])

  private def pointerPath(indexDir: String) = new Path(indexDir, PointerName)

  def readPointer(fs: FileSystem, indexDir: String): Option[Pointer] = {
    val p = pointerPath(indexDir)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val bytes = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    var r = in.read(buf)
    while (r > 0) { bytes.write(buf, 0, r); r = in.read(buf) }
    in.close()
    val kv = bytes.toString("UTF-8").linesIterator.filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }.toMap
    try Some(Pointer(kv("live"),
      kv.getOrElse("retired", "").split(',').filter(_.nonEmpty).toSet))
    catch { case _: Exception => None }
  }

  /** One tmp-write + ATOMIC overwriting rename (round-4 review: the old
    * delete-then-rename pair had a crash window with NO pointer file,
    * which widened the retired-dir resurrection window). FileContext
    * rename-with-OVERWRITE is atomic on HDFS and posix local fs; any
    * failure throws rather than proceeding silently.
    */
  def writePointer(fs: FileSystem, indexDir: String, ptr: Pointer): Unit = {
    val p = pointerPath(indexDir)
    val tmp = new Path(indexDir, PointerName + ".tmp")
    val out = fs.create(tmp, true)
    out.write(s"live=${ptr.live}\nretired=${ptr.retired.toSeq.sorted.mkString(",")}\n"
      .getBytes(StandardCharsets.UTF_8))
    out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, fs.getConf)
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(p),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The LIVE `seg-*` segment dirs under `indexDir`, sorted (determinism);
    * a root FILE named `seg-*` is not a segment.
    * The pointer's retired set applies only while its live segment
    * exists — an interrupted compaction (pointer written, rename not yet
    * done) resolves to the pre-compaction segment set.
    */
  def liveSegments(fs: FileSystem, indexDir: String): Seq[String] = {
    val root = new Path(indexDir)
    if (!fs.exists(root)) return Seq.empty
    val all = fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("seg-"))
    val retired = readPointer(fs, indexDir) match {
      case Some(ptr) if all.exists(_.getName == ptr.live) => ptr.retired
      case _ => Set.empty[String]
    }
    all.filterNot(p => retired.contains(p.getName)).map(_.toString).sorted
  }

  def liveSegments(spark: SparkSession, indexDir: String): Seq[String] = {
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    liveSegments(fs, indexDir)
  }

  /** Next unused compacted-segment name (`seg-compacted-<g>`): scans
    * existing dirs AND the pointer so an interrupted compaction's
    * reserved name is never reused with different contents.
    */
  def nextCompactedName(fs: FileSystem, indexDir: String): String = {
    val root = new Path(indexDir)
    val existing =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
    val pointed = readPointer(fs, indexDir).map(_.live).toSeq
    val used = (existing ++ pointed)
      .filter(_.startsWith("seg-compacted-"))
      .flatMap(n => n.stripPrefix("seg-compacted-").toIntOption)
    s"seg-compacted-${used.maxOption.getOrElse(-1) + 1}"
  }
}

/** Tombstone store of a streaming index directory: docIds whose
  * documents have been SUPERSEDED by a later re-ingest of the same
  * (conv_id, turn_idx) key, or explicitly deleted — the cross-segment
  * half of the reference's `_id = path` last-write-wins upsert
  * (BulkIndexer.java:48: re-importing a path overwrites the ES doc;
  * NeoFinderToES.java:184-192 appends into ONE index, so a re-imported
  * record never coexists with its earlier version).
  *
  * Layout: parquet under `$indexDir/tombstones/`, appended per
  * micro-batch / delete call (duplicates are fine — readers join or
  * dedupe). "Has tombstones" means the store holds at least one data
  * file. A searcher pins one [[listDataFiles]] snapshot when it opens,
  * and every view it derives reads that snapshot:
  * queries subtract tombstones like a `must_not` list through
  * per-(segment, bucket) delta-encoded exclusion BLOCKS that ride the
  * pruned block scans (round-5 — no query-path structure scales with
  * tombstone volume on the driver), the removed statistics come from
  * the snapshot's docs, and the doc-store paths anti-join it. `Compaction`
  * physically drops tombstoned docs and their postings, then removes
  * the consumed files — the one remaining driver-side sorted array
  * ([[loadSorted]]) is compaction's own postings filter, bounded by the
  * very update volume the compaction is consuming.
  */
object Tombstones {
  def dir(indexDir: String): String = s"$indexDir/tombstones"

  /** The store's one column, declared: readers never infer it (an
    * inference is a Spark job, and it throws on a store holding no data
    * file).
    */
  val Schema: StructType = StructType(Seq(StructField("docId", LongType)))

  /** Does the store hold at least one data file? A dir left holding only
    * `_SUCCESS` (a crash inside [[clearFiles]]) holds no tombstone.
    */
  def exists(spark: SparkSession, indexDir: String): Boolean =
    listDataFiles(spark, indexDir).nonEmpty

  /** Distinct tombstoned docIds of the store's current data files as a
    * 1-column ("docId") frame; empty when there are none.
    */
  def loadDF(spark: SparkSession, indexDir: String): DataFrame =
    loadDF(spark, listDataFiles(spark, indexDir))

  /** The store's current parquet data-file paths — a SNAPSHOT. Every
    * read that must agree uses one list: a compaction (its docs write,
    * postings filter and final cleanup — tombstones appended by ingest
    * running concurrently are neither applied half-way nor destroyed by
    * cleanup, round-4 review) and a searcher (its exclusion blocks,
    * removed statistics and every doc-store anti-join).
    */
  def listDataFiles(spark: SparkSession, indexDir: String): Seq[String] = {
    val p = new Path(dir(indexDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexBuilder.dataFiles(fs, p).map(_.toString).sorted
  }

  /** The docIds of exactly `files` (a [[listDataFiles]] snapshot) read
    * with [[Schema]], duplicates kept: semi- and anti-joins need no
    * distinct set. The store dir is read as one path and filtered to the
    * snapshot's file names: Spark lists more than 32 explicit paths with
    * a job.
    */
  def read(spark: SparkSession, files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schema)
    else spark.read.schema(Schema).parquet(new Path(files.head).getParent.toString)
      .filter(col("_metadata.file_name").isin(files.map(new Path(_).getName): _*))
      .select(col("docId"))

  /** Distinct docIds from exactly `files` (a [[listDataFiles]] snapshot). */
  def loadDF(spark: SparkSession, files: Seq[String]): DataFrame =
    read(spark, files).distinct()

  def loadSorted(spark: SparkSession, files: Seq[String]): Array[Long] = {
    import spark.implicits._
    if (files.isEmpty) Array.empty
    else loadDF(spark, files).as[Long].collect().sorted
  }

  /** Delete exactly the snapshot `files` a compaction consumed, leaving
    * any file appended after the snapshot in place (its docIds refer to
    * docs the compaction did NOT drop, so they must stay excluded).
    */
  def clearFiles(spark: SparkSession, indexDir: String, files: Seq[String]): Unit = {
    if (files.isEmpty) return
    val fs = new Path(dir(indexDir)).getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach(f => fs.delete(new Path(f), false))
    // drop the dir (and its _SUCCESS marker) only when nothing new arrived
    val p = new Path(dir(indexDir))
    if (fs.exists(p) && IndexBuilder.dataFiles(fs, p).isEmpty) fs.delete(p, true)
  }

  /** Appends `docIds` as at most `parts` data files and returns how many
    * rows it wrote, counted by the write job itself (one Spark action).
    * The rows are written to a hidden staging dir beside the store and
    * moved in only when there is at least one, so an append that matched
    * nothing leaves the store exactly as it was: an absent store stays
    * absent, and no zero-row file makes readers see tombstones. A crash
    * mid-move leaves some of the files in the store and a stray staging
    * dir no reader lists; the retried append writes the rows again, and
    * duplicates are harmless.
    */
  def append(spark: SparkSession, indexDir: String, docIds: DataFrame, parts: Int): Long = {
    val store = new Path(dir(indexDir))
    val staging = new Path(indexDir, s".tombstones-${java.util.UUID.randomUUID()}")
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val obs = org.apache.spark.sql.Observation()
    docIds.select(col("docId").cast("long"))
      .observe(obs, count(lit(1)).as("n"))
      .coalesce(parts)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val n = obs.get("n").asInstanceOf[Long]
    if (n > 0) {
      fs.mkdirs(store)
      // the data files and, unless an earlier append left one, _SUCCESS
      // (a checksum side file moves with its file)
      fs.listStatus(staging).map(_.getPath)
        .filter(p => !p.getName.startsWith(".") && !fs.exists(new Path(store, p.getName)))
        .foreach(p => require(fs.rename(p, new Path(store, p.getName)),
          s"moving tombstone file $p into $store failed"))
    }
    fs.delete(staging, true)
    n
  }

  // --- per-segment conv_id bloom (prunes the upsert key-lookup) ----------

  private def bloomPath(segDir: String) = new Path(segDir, "keybloom.bin")

  /** Build + persist a bloom filter over a segment's conv_ids, written
    * at segment-build time so later batches can skip scanning segments
    * that cannot contain their keys (fpp 1% — a false positive only
    * costs one extra segment scan, never correctness).
    */
  def writeKeyBloom(spark: SparkSession, segDir: String, docs: DataFrame, n: Long): Unit = {
    val bf = docs.stat.bloomFilter(col("conv_id"), math.max(1L, n), 0.01)
    val fs = bloomPath(segDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(bloomPath(segDir), true)
    bf.writeTo(out)
    out.close()
  }

  /** The segment's key bloom, or None for segments built without one
    * (then the caller must scan the segment — conservative).
    */
  def readKeyBloom(spark: SparkSession, segDir: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = bloomPath(segDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
    catch { case _: Exception => None }
    finally in.close()
  }
}
