package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{BuildManifest, IndexStats, PostingBlock, TermStats}
import graft.query.Bm25

final case class CompactionReport(segments: Int, n: Long, vocab: Long, buckets: Int,
  consumedTombstones: Seq[String] = Nil, mergedSegments: Seq[String] = Nil)

/** Tiered auto-compaction policy (ES merges segments continuously in
  * the background — the reference's append runs rely on it,
  * NeoFinderToES.java:184-192; always-merge-ALL is O(total index) per
  * invocation and wrong at scale):
  *   - `maxSegments`: when the live segment count exceeds it, merge the
  *     `mergeFactor` SMALLEST segments (size-tiered selection — the big
  *     compacted segment is left alone, so each merge costs ∝ the small
  *     inputs, and a segment is rewritten O(log corpus) times over its
  *     life, the classic LSM amortization);
  *   - `tombstoneRatio`: when tombstoned docs exceed this fraction of
  *     the corpus, run a FULL merge (the only merge kind that drops
  *     every tombstone and re-tightens all statistics bounds).
  */
final case class CompactionPolicy(
    maxSegments: Int = 8,
    mergeFactor: Int = 8,
    tombstoneRatio: Double = 0.2)

/** Segment compaction: merge the LIVE `seg-*` sub-indexes under an index
  * dir into ONE ordinary index (readable by a single `Searcher`),
  * WITHOUT re-tokenizing the corpus — the reference's append runs land
  * in one ES index whose segments merge internally
  * (NeoFinderToES.java:184-192); here every micro-batch is a permanent
  * segment until compacted, and both query and ingest degrade
  * O(segments) (round-2 review).
  *
  * What merging costs and why it's cheap: per-segment docId ranges are
  * DISJOINT by construction (StreamingIngest offsets each batch past the
  * previous max), so posting payload bytes (docs/tfs/dls/poss streams)
  * are carried over UNTOUCHED for every block with no tombstoned doc —
  * cost ∝ compressed index size, never corpus tokenize cost. What
  * changes:
  *   1. termIds are segment-local → re-mapped through a merged global
  *      dictionary. The re-map join moves only a dict-sized (segIdx,
  *      termIdOld) → (termIdNew, shardNew) table against the block
  *      stream — AQE-broadcast when small.
  *   2. buckets are segment-local docId ranges → shifted by a per-segment
  *      offset so they stay disjoint (WAND needs docId-disjoint block
  *      lists per term — preserved).
  *   3. TOMBSTONED docs (cross-segment upsert / deletes,
  *      [[Tombstones]]) are dropped PHYSICALLY: a block overlapping the
  *      tombstone set is decoded, its dead postings removed, and the
  *      surviving run re-encoded (blocks fully tombstoned disappear;
  *      non-overlapping blocks — the overwhelming majority — copy their
  *      payload verbatim). The tombstone set is the updates since the
  *      last compaction, driver-bounded and broadcast.
  *   4. statistics are recomputed EXACTLY over the surviving corpus:
  *      N and Σdl from the merged doc store write (Observation), df/cf
  *      per term from the surviving blocks themselves (df = Σ block
  *      count without decoding; cf decodes only the tf varint stream),
  *      and per-block maxScore by rescoring the surviving (tf, dl)
  *      streams under the merged stats. The compacted index therefore
  *      serves a plain `Searcher` with tight bounds — no staleBlockMax
  *      mode, unlike `MultiSearcher` over raw segments.
  *
  * The output carries the full manifest set a built index has — docs,
  * finalize AND per-bucket cells — so a LATER compaction over a dir
  * containing this segment derives its bucket count correctly (round-3
  * review: the missing bucket cells made a second compactInPlace round
  * assign overlapping bucket ids).
  */
object Compaction {

  private def tombIndexOfGeq(tomb: Array[Long], target: Long): Int = {
    var a = 0
    var b = tomb.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (tomb(m) < target) a = m + 1 else b = m
    }
    a
  }

  /** Drop tombstoned postings from a block: returns the block unchanged
    * when no tombstone falls in its docId range, None when every posting
    * is dead, else a re-encoded block of the survivors (maxScore is a
    * placeholder — phase 2 rescores every block under the merged stats
    * anyway).
    */
  private def filterBlock(blk: PostingBlock, tomb: Array[Long]): Option[PostingBlock] = {
    if (tomb.isEmpty) return Some(blk)
    val i0 = tombIndexOfGeq(tomb, blk.firstDocId)
    if (i0 >= tomb.length || tomb(i0) > blk.lastDocId) return Some(blk)
    val dec = Codec.decodeBlock(blk)
    val posDec =
      if (blk.poss != null && blk.poss.nonEmpty) Codec.decodePositions(blk, dec.tfs) else null
    val keep = new Array[Boolean](blk.count)
    var nKeep = 0
    var i = 0
    while (i < blk.count) {
      val d = dec.docIds(i)
      val j = tombIndexOfGeq(tomb, d)
      keep(i) = j >= tomb.length || tomb(j) != d
      if (keep(i)) nKeep += 1
      i += 1
    }
    if (nKeep == blk.count) return Some(blk)
    if (nKeep == 0) return None
    val ids = new Array[Long](nKeep)
    val tfs = new Array[Int](nKeep)
    val dls = new Array[Int](nKeep)
    val pss = new Array[Array[Byte]](nKeep)
    var maxTf = 0
    var o = 0
    i = 0
    while (i < blk.count) {
      if (keep(i)) {
        ids(o) = dec.docIds(i)
        tfs(o) = dec.tfs(i)
        dls(o) = dec.dls(i)
        pss(o) = if (posDec == null) Array.emptyByteArray
          else Codec.encodePositions(posDec(i))
        if (tfs(o) > maxTf) maxTf = tfs(o)
        o += 1
      }
      i += 1
    }
    var posBytes = 0
    i = 0
    while (i < nKeep) { posBytes += pss(i).length; i += 1 }
    val pcat = new Array[Byte](posBytes)
    var off = 0
    i = 0
    while (i < nKeep) {
      System.arraycopy(pss(i), 0, pcat, off, pss(i).length)
      off += pss(i).length
      i += 1
    }
    Some(blk.copy(
      firstDocId = ids(0), lastDocId = ids(nKeep - 1), count = nKeep,
      docs = Codec.deltaEncode(ids), tfs = Codec.encodeVarInts(tfs),
      dls = Codec.encodeVarInts(dls), poss = pcat, maxTf = maxTf, maxScore = 0.0))
  }

  /** Merge `indexDir`'s live seg-* (minus tombstoned docs) into a
    * self-contained index at `outDir`. `only` restricts the merge to a
    * SUBSET of the live segments (size-tiered partial compaction —
    * [[maybeCompact]]); null/empty = all live.
    */
  def compact(spark: SparkSession, indexDir: String, outDir: String,
      only: Seq[String] = null): CompactionReport = {
    import spark.implicits._
    val live = SegmentCatalog.liveSegments(spark, indexDir)
    val segments =
      if (only == null || only.isEmpty) live
      else {
        require(only.forall(live.contains),
          s"compact subset contains non-live segments: ${only.filterNot(live.contains)}")
        only.sorted
      }
    require(segments.nonEmpty, s"no live seg-* sub-indexes under $indexDir")
    val snap = s"compact:${segments.map(_.split('/').last).mkString(",")}"
    // ONE tombstone snapshot drives the whole compaction (round-4
    // review): the sorted array (postings filter), the anti-join frame
    // (doc-store filter) and the final cleanup all see exactly these
    // files, so a tombstone appended by concurrent ingest mid-compact
    // can neither drop a doc whose postings survive nor be destroyed by
    // cleanup before any reader applied it.
    val tombFiles = Tombstones.listDataFiles(spark, indexDir)
    val tomb = Tombstones.loadSorted(spark, tombFiles)
    val tombBc = spark.sparkContext.broadcast(tomb)
    val tombDF = Tombstones.loadDF(spark, tombFiles)

    // additional analyzed text fields present in the inputs (union of
    // the segments' fieldstats) — their merged (docCount, Σdl) must be
    // recomputed EXACTLY over the survivors, like N / Σdl
    val hfs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // per-SEGMENT field sets: merged field stats must only count docs of
    // segments that actually INDEXED a field — a same-named doc-store
    // column in a segment built without textFieldCols has no `%field:`
    // postings to merge, so counting its docs would skew the compacted
    // per-field df/docCount relation (round-5 ADVICE)
    val segFieldNames: Seq[Set[String]] = segments.map { s =>
      val p = new Path(s"$s/fieldstats")
      if (!hfs.exists(p)) Set.empty[String]
      else spark.read.parquet(s"$s/fieldstats").select(col("field"))
        .as[String].collect().toSet
    }
    val fieldNames: Seq[String] = segFieldNames.flatten.distinct.sorted

    // surviving doc store union (docIds globally unique already); stats
    // ride the write job — Σdl is exact (integer-valued dl per doc), and
    // the per-field (docCount, Σdl) aggregates ride the SAME job (one
    // narrow tokenize of the short field columns, no extra pass). The
    // __seg tag exists only for the per-segment field gate and is
    // dropped before the write.
    val obs = org.apache.spark.sql.Observation()
    val docsUnion = segments.zipWithIndex.map { case (s, i) =>
      spark.read.parquet(s"$s/docs").withColumn("__seg", lit(i))
    }.reduce(_ unionByName _)
    val living =
      if (tomb.isEmpty) docsUnion
      else docsUnion.join(tombDF, Seq("docId"), "left_anti")
    val baseAggs = Seq(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sumdl"),
      coalesce(max(col("docId")), lit(-1L)).as("mx"))
    val fieldAggs = fieldNames.flatMap { f =>
      val segsWithF = segFieldNames.zipWithIndex.collect { case (set, i) if set.contains(f) => i }
      val d0 = coalesce(graft.analysis.Analyzer.dlCol(col(f).cast("string")), lit(0))
      val d = when(col("__seg").isin(segsWithF: _*), d0).otherwise(lit(0))
      Seq(count(when(d > lit(0), 1)).as(s"fn_$f"),
        coalesce(sum(d.cast("long")), lit(0L)).as(s"fs_$f"))
    }
    living
      .observe(obs, baseAggs.head, (baseAggs.tail ++ fieldAggs): _*)
      .drop("__seg")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/docs")
    val row = obs.get
    val n = row("n").asInstanceOf[Long]
    val sumDl = row("sumdl").asInstanceOf[Long]
    val maxDocId = row("mx").asInstanceOf[Long]
    val avgdl = if (n == 0) 0.0 else sumDl.toDouble / n
    // merged field stats (fieldId re-assigned in sorted field order) —
    // persisted like a built index's, and fed to the rescore below
    val mergedFieldStats: Seq[(String, Int, Long, Long)] =
      fieldNames.zipWithIndex.map { case (f, i) =>
        (f, i + 1, row(s"fn_$f").asInstanceOf[Long], row(s"fs_$f").asInstanceOf[Long])
      }
    if (fieldNames.nonEmpty)
      mergedFieldStats.toDF("field", "fieldId", "ndocs", "sumdl")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/fieldstats")
    // an all-deleted corpus would compact to an index with no block
    // files (unreadable by Searcher — same as IndexBuilder's n=0 early
    // return); refuse loudly rather than swap in a broken index
    require(n > 0,
      "every live document is tombstoned — nothing to compact; delete the index dir instead")

    // merged dictionary with fresh termIds — materialized exactly once
    // (monotonically_increasing_id must not be recomputed across
    // consumers; same rule as IndexBuilder's dict0 phase). df/cf are NOT
    // carried from the segment dicts: they are recomputed exactly from
    // the surviving blocks below (tombstones change them).
    val dictUnion = segments.zipWithIndex.map { case (s, i) =>
      spark.read.parquet(s"$s/dict").withColumn("seg", lit(i))
    }.reduce(_ unionByName _).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dictUnion.groupBy(col("term"))
      .agg(first(col("shard")).as("shard"))
      .withColumn("termId", monotonically_increasing_id())
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/dict0")
    val gdict = spark.read.parquet(s"$outDir/dict0")

    // (seg, termIdOld) → (termIdNew, shardNew): dict-sized, no posting
    // payload rides this join's build side
    val mapping = dictUnion
      .select(col("seg"), col("term"), col("termId").as("termIdOld"))
      .join(gdict.select(col("term"), col("termId").as("termIdNew"),
        col("shard").as("shardNew")), Seq("term"))
      .select("seg", "termIdOld", "termIdNew", "shardNew")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    mapping.count()

    // per-segment bucket offsets (buckets stay disjoint docId ranges);
    // manifest bucket cells are authoritative, max-bucket-in-blocks the
    // fallback for foreign segments
    val bucketCounts = segments.map { s =>
      val fromManifest = new IndexBuilder(spark, s, snap).allManifests
        .filter(_.cell.startsWith("bucket=")).map(_.bucket).maxOption
      fromManifest.getOrElse(
        spark.read.parquet(s"$s/blocks").agg(coalesce(max(col("bucket")), lit(0)))
          .head().getInt(0)) + 1
    }
    val offsets = bucketCounts.scanLeft(0)(_ + _)

    // phase 1 — re-map termId, shift bucket, drop tombstoned postings;
    // payload bytes copy verbatim unless the block overlaps a tombstone
    val rewritten = segments.zipWithIndex.map { case (s, i) =>
      val m = mapping.filter(col("seg") === lit(i)).drop("seg")
      val off = offsets(i)
      spark.read.parquet(s"$s/blocks")
        .join(m, col("termId") === col("termIdOld"))
        .select(col("termIdNew").as("_1"), col("shardNew").as("_2"),
          (col("bucket") + lit(off)).cast("int").as("_3"), col("blockId").as("_4"),
          col("firstDocId").as("_5"), col("lastDocId").as("_6"), col("count").as("_7"),
          col("docs").as("_8"), col("tfs").as("_9"), col("dls").as("_10"),
          col("poss").as("_11"), col("maxTf").as("_12"))
    }.reduce(_ unionByName _)
      .as[(Long, Int, Int, Int, Long, Long, Int,
        Array[Byte], Array[Byte], Array[Byte], Array[Byte], Int)]
      .flatMap { r =>
        val blk = PostingBlock(r._1, r._2, r._3, r._4, r._5, r._6, r._7,
          r._8, r._9, r._10, r._11, r._12, 0.0)
        filterBlock(blk, tombBc.value)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // exact per-term stats over the SURVIVING postings: df needs no
    // decode (block counts), cf decodes only the tf varint stream
    val dfcf = rewritten
      .map { b =>
        val tfs = Codec.decodeVarInts(b.tfs, b.count)
        var cf = 0L
        var i = 0
        while (i < tfs.length) { cf += tfs(i); i += 1 }
        (b.termId, b.count.toLong, cf)
      }
      .toDF("termId", "dfb", "cfb")
      .groupBy(col("termId"))
      .agg(sum(col("dfb")).as("df"), sum(col("cfb")).as("cf"))

    // phase 2 — rescore block-max EXACTLY under the merged (N, Σdl, df)
    // — per-FIELD stats for `%field:` terms (their fieldId is re-derived
    // from the merged dictionary's term strings): dict-sized join
    // (AQE-broadcast), decode, rescore; payloads pass through untouched
    val fieldIdExpr = fieldNames.zipWithIndex.foldLeft(lit(0)) { case (acc, (f, i)) =>
      when(col("term").startsWith(lit(FieldTerms.textTerm(f, ""))), lit(i + 1)).otherwise(acc)
    }
    val dfcfF = dfcf.join(gdict.select(col("termId"), fieldIdExpr.as("fieldId")), Seq("termId"))
    val fNs: Array[Long] = (n +: mergedFieldStats.map(_._3)).toArray
    val fAds: Array[Double] = (avgdl +: mergedFieldStats.map { case (_, _, nf, sdl) =>
      if (nf == 0) 0.0 else sdl.toDouble / nf
    }).toArray
    val rescored = rewritten
      .joinWith(dfcfF, rewritten("termId") === dfcfF("termId"))
      .map { case (blk, dfRow) =>
        val df = dfRow.getLong(1)
        val fid0 = dfRow.getInt(3)
        val fid = if (fid0 >= 0 && fid0 < fNs.length) fid0 else 0
        val tfs = Codec.decodeVarInts(blk.tfs, blk.count)
        val dls = Codec.decodeVarInts(blk.dls, blk.count)
        val idf = Bm25.idf(df, fNs(fid))
        var mx = Double.NegativeInfinity
        var i = 0
        while (i < blk.count) {
          val sc = Bm25.scoreIdf(idf, tfs(i), dls(i), fAds(fid))
          if (sc > mx) mx = sc
          i += 1
        }
        blk.copy(maxScore = mx)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rescored.write.partitionBy("bucket", "shard")
      .mode(SaveMode.Overwrite).parquet(s"$outDir/blocks")

    // finalize: dictionary df/cf/maxScore from the rescored blocks
    // (exact global upper bounds — a plain Searcher needs no stale-bound
    // mode); terms with no surviving posting drop out via the inner join
    val maxs = rescored.groupBy(col("termId"))
      .agg(max(col("maxScore")).as("maxScore"))
    gdict
      .join(dfcf, Seq("termId"))
      .join(maxs, Seq("termId"))
      .select(col("term"), col("termId"), col("shard"), col("df"), col("cf"), col("maxScore"))
      .as[TermStats]
      .withColumn("len", graft.index.FieldTerms.bareLenCol(col("term")))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/dict")
    val nVocab = spark.read.parquet(s"$outDir/dict").count()

    // per-bucket metrics for the manifest cells (ADVICE r3: the output
    // segment must carry bucket cells so a later compaction round
    // derives its bucket count correctly)
    val perBucket = rescored.groupBy(col("bucket"))
      .agg(coalesce(sum(col("count")), lit(0L)).as("p"),
        coalesce(sum(length(col("docs")) + length(col("tfs")) + length(col("dls"))
          + length(col("poss"))), lit(0L)).as("y"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    rescored.unpersist(blocking = false)
    rewritten.unpersist(blocking = false)
    mapping.unpersist(blocking = false)
    dictUnion.unpersist(blocking = false)
    tombBc.destroy()

    Seq(IndexStats(n, avgdl, snap)).toDS()
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/stats")
    val out = new IndexBuilder(spark, outDir, snap)
    out.writeManifest(BuildManifest("docs", -1, 0, maxDocId + 1, snap, n, 0, "done", 0))
    val nBuckets = offsets.last
    for (b <- 0 until nBuckets) {
      val (p, y) = perBucket.getOrElse(b, (0L, 0L))
      out.writeManifest(BuildManifest(s"bucket=$b", b, 0, maxDocId + 1, snap, p, y, "done", 0))
    }
    out.writeManifest(BuildManifest("finalize", -1, 0, n, snap, nVocab, 0, "done", 0))
    // format flag of the merged segment = min over the inputs: postings
    // (incl. exists markers) are payload-preserved, so the merge carries
    // markers iff EVERY input did — a legacy input keeps the output
    // legacy so exists/missing still fails loudly instead of silently
    IndexFormat.write(hfs, outDir,
      segments.map(s => IndexFormat.version(hfs, s)).min)
    // key bloom for the merged segment: future appends prune their
    // upsert key-lookup against it like any built segment's
    Tombstones.writeKeyBloom(spark, outDir, spark.read.parquet(s"$outDir/docs"), n)
    CompactionReport(segments.size, n, nVocab, nBuckets, tombFiles, segments)
  }

  /** Compact in place: merge the live seg-* into `$indexDir/
    * seg-compacted-<g>` and retire the inputs, so streaming ingest keeps
    * appending to the same directory and `MultiSearcher` sees one
    * segment. CRASH-SAFE via the [[SegmentCatalog]] pointer protocol
    * (write merged → point → rename → cleanup): a kill at any step
    * leaves a servable index resolving to either the old segment set
    * (with tombstones) or the compacted one — never neither, never
    * both.
    */
  def compactInPlace(spark: SparkSession, indexDir: String,
      only: Seq[String] = null): CompactionReport = {
    import spark.implicits._
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$indexDir/.compact-tmp"
    if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true) // stale crash leftover
    // 0. FINISH any interrupted cleanup first (round-4 review: a crash
    //    during step 3 of a PREVIOUS compaction leaves its retired dirs
    //    on disk, excluded only by the current pointer; writing a new
    //    pointer below would drop that exclusion and resurrect them as
    //    live segments). The pointer's retired set is out-of-catalog by
    //    definition while its live segment exists, so deleting it here
    //    is exactly the cleanup the crashed run owed.
    SegmentCatalog.readPointer(fs, indexDir).foreach { ptr =>
      if (fs.exists(new Path(s"$indexDir/${ptr.live}")) && ptr.retired.nonEmpty) {
        ptr.retired.foreach(nm => fs.delete(new Path(s"$indexDir/$nm"), true))
        // the owed cleanup is done: clear the retired set (one more
        // atomic pointer write) so a FUTURE segment that reuses a
        // retired name — e.g. a repeated streaming batchId after a
        // restart without checkpoint — can never match a stale entry
        // and be deleted by a later step 0 (round-5 ADVICE)
        SegmentCatalog.writePointer(fs, indexDir, ptr.copy(retired = Set.empty))
      }
    }
    val liveBefore = SegmentCatalog.liveSegments(fs, indexDir)
    val report = compact(spark, indexDir, tmp, only)
    val inputs = report.mergedSegments
    val partial = inputs.size < liveBefore.size
    // PARTIAL merge: a consumed tombstone is dropped only if its doc
    // lived in a MERGED segment — docIds of un-merged segments must
    // stay excluded. Compute the survivors from the snapshot BEFORE the
    // inputs are deleted, re-append them, then delete the snapshot
    // files (append-first: a crash in between leaves harmless
    // duplicates, never a resurrection).
    val surviving: Option[DataFrame] =
      if (!partial || report.consumedTombstones.isEmpty) None
      else {
        val mergedDocs = inputs.map(s =>
          spark.read.parquet(s"$s/docs").select(col("docId"))).reduce(_ unionByName _)
        val surv = Tombstones.loadDF(spark, report.consumedTombstones)
          .join(mergedDocs, Seq("docId"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        if (surv.count() == 0) { surv.unpersist(blocking = false); None } else Some(surv)
      }
    val target = SegmentCatalog.nextCompactedName(fs, indexDir)
    // 1. retire the inputs in one atomic pointer write — ignored by
    //    readers until the live segment exists
    SegmentCatalog.writePointer(fs, indexDir, SegmentCatalog.Pointer(
      target, inputs.map(s => new Path(s).getName).toSet))
    // 2. the flip: tmp becomes the live segment (rename failure must not
    //    proceed to cleanup — the old segments are still authoritative)
    require(fs.rename(new Path(tmp), new Path(s"$indexDir/$target")),
      s"rename $tmp -> $indexDir/$target failed; old segments remain authoritative")
    // 3. cleanup (crash here leaves retired dirs on disk, out of
    //    catalog; step 0 of the NEXT compaction removes them). Surviving
    //    tombstones are appended DURABLY BEFORE the merged input dirs
    //    are deleted: `surviving` is only cached, and a lost partition
    //    would need the inputs' parquet to recompute (round-5 ADVICE) —
    //    the append-first order also means a crash anywhere in this
    //    block leaves at worst harmless duplicates, never a
    //    resurrection. Only the tombstone files the compaction actually
    //    consumed are deleted — files appended by concurrent ingest
    //    stay (their docIds were NOT dropped by this merge and must
    //    remain excluded).
    surviving.foreach { surv =>
      Tombstones.append(spark, indexDir, surv)
      surv.unpersist(blocking = false)
    }
    inputs.foreach(s => fs.delete(new Path(s), true))
    Tombstones.clearFiles(spark, indexDir, report.consumedTombstones)
    // cleanup complete: clear the retired set so stale names can never
    // shadow (or step-0-delete) a future same-named segment
    SegmentCatalog.writePointer(fs, indexDir, SegmentCatalog.Pointer(target, Set.empty))
    report
  }

  /** Policy-driven incremental compaction: returns None when nothing is
    * due. Triggers and selection per [[CompactionPolicy]]: the
    * tombstone ratio compares the tombstone count against manifest doc
    * counts (computed only when tombstones exist — the common
    * no-tombstone check runs zero Spark jobs), and size-tiered merge
    * selection orders segments by COMPRESSED BYTES from the manifest
    * bucket cells (the LSM-relevant size when doc sizes are skewed —
    * round-5 review "What's missing #6"), falling back to the on-disk
    * byte size of `blocks/` for foreign segments without cells (a
    * filesystem walk, still zero Spark jobs).
    */
  def maybeCompact(spark: SparkSession, indexDir: String,
      policy: CompactionPolicy = CompactionPolicy()): Option[CompactionReport] = {
    val segs = SegmentCatalog.liveSegments(spark, indexDir)
    if (segs.isEmpty) return None
    val tombN =
      if (!Tombstones.exists(spark, indexDir)) 0L
      else Tombstones.loadDF(spark, indexDir).count()
    if (tombN > 0) {
      val totalN = math.max(1L, segs.map { s =>
        new IndexBuilder(spark, s, "", IndexConfig()).readManifest("docs")
          .map(_.postingsEmitted)
          .getOrElse(spark.read.parquet(s"$s/docs").count())
      }.sum)
      // an entirely-tombstoned corpus has nothing to compact INTO (the
      // merge would produce an unservable empty index): leave the
      // tombstones excluding everything rather than throw (round-5
      // ADVICE); the caller can drop the index dir
      if (tombN >= totalN) return None
      if (tombN.toDouble / totalN >= policy.tombstoneRatio)
        return Some(compactInPlace(spark, indexDir)) // full: drops every tombstone
    }
    if (segs.size > policy.maxSegments) {
      val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sizes: Seq[(String, Long)] = segs.map { s =>
        val cells = new IndexBuilder(spark, s, "", IndexConfig()).allManifests
          .filter(_.cell.startsWith("bucket="))
        val bytes = cells.map(_.bytesCompressed).sum
        s -> (if (cells.nonEmpty) bytes
              else fs.getContentSummary(new Path(s"$s/blocks")).getLength)
      }
      val smallest = sizes.sortBy(_._2).take(math.max(2, policy.mergeFactor)).map(_._1)
      Some(compactInPlace(spark, indexDir, smallest))
    } else None
  }
}
