package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.corpus.Transcripts
import graft.index.{DocIds, FieldTerms, IndexBuilder, IndexConfig}
import graft.model.Scored
import graft.query.{Oracle, Searcher}

/** Per-field fulltext (round-5): additional analyzed text fields
  * (`IndexConfig.textFieldCols`, `%field:token` namespace) with
  * per-field BM25 statistics, `searchField` and `multi_match` — each
  * pinned rank-identical (docIds AND scores) to the exhaustive
  * per-field oracle, plus the invariance rule that field indexing never
  * perturbs main-text scores.
  */
class FieldSearchSpec extends SparkSpec {
  import spark.implicits._

  private val nConvs = 300L
  private lazy val indexDir = s"${TestSpark.tmpRoot}/index-fields"
  private lazy val plainDir = s"${TestSpark.tmpRoot}/index-fields-plain"
  private lazy val cfg = IndexConfig(numBuckets = 2, numShards = 8, blockSize = 32,
    partitions = 8, fieldCols = Seq("role"), textFieldCols = Seq("title"))

  /** Transcript docs + a derived `title` field: the first (docId % 7)
    * tokens of the text — variable field length incl. EMPTY titles
    * (docId % 7 == 0), so docCount < N and per-field avgdl differ from
    * the corpus values.
    */
  private lazy val docsDF: DataFrame = {
    val base = DocIds.assign(DocIds.dedup(Transcripts.generate(spark, nConvs)), 8).toDF()
    base.withColumn("title",
      array_join(slice(Analyzer.tokensCol(col("text")), lit(1),
        pmod(col("docId"), lit(7)).cast("int")), " "))
      .cache()
  }

  private lazy val built: graft.index.BuildReport = {
    docsDF.count()
    new IndexBuilder(spark, indexDir, "snap-fields-1", cfg).buildFrom(docsDF)
  }
  private lazy val searcher = { built; new Searcher(spark, indexDir, cfg.numShards) }
  private lazy val warmed = {
    built
    new Searcher(spark, indexDir, cfg.numShards).warm(maxLocalBlockBytes = 1L << 30)
  }

  private def scored(df: DataFrame): Seq[Scored] = df.as[Scored].collect().toSeq

  private val queries = Seq("the", "the a of", "one have t999", "zanzibar quasar lattice",
    "definitely-notavocab-word")

  test("fieldstats: docCount and avgdl are the field's own, not the corpus's") {
    built
    val fs = searcher.fieldStatsMap
    assert(fs.contains("title"))
    val (nF, avgdlF) = fs("title")
    val want = docsDF.agg(
      count(when(Analyzer.dlCol(col("title")) > lit(0), 1)),
      sum(Analyzer.dlCol(col("title")).cast("long"))).head()
    assert(nF == want.getLong(0))
    assert(nF < searcher.n) // empty titles exist
    assert(math.abs(avgdlF - want.getLong(1).toDouble / nF) < 1e-12)
    assert(math.abs(avgdlF - searcher.avgdl) > 0.5) // genuinely different norm
  }

  test("searchField(title) ≡ exhaustive per-field oracle (docIds AND scores)") {
    for (q <- queries) {
      val want = scored(Oracle.topKField(docsDF, "title", q, 10))
      val got = searcher.searchField("title", q, 10).toSeq
      assert(got == want, s"field query '$q':\n got=$got\n want=$want")
      assert(warmed.searchField("title", q, 10).toSeq == want, s"warm field '$q'")
    }
    // field 'text' routes to the main index — identical to plain search
    for (q <- Seq("the a of", "one have t999"))
      assert(searcher.searchField("text", q, 10).toSeq == searcher.search(q, 10).toSeq)
  }

  test("searchField conjunctive + phrase: field-local semantics") {
    val want = scored(Oracle.topKField(docsDF, "title", "the a", 10, conjunctive = true))
    assert(searcher.searchField("title", "the a", 10, conjunctive = true).toSeq == want)
    // phrase within the field: adjacency over the FIELD's positions —
    // oracle = conjunctive field scoring ∩ title contains the bigram
    val stream = concat(lit(" "),
      array_join(Analyzer.tokensCol(col("title")), " "), lit(" "))
    val hasPhrase = docsDF.filter(instr(stream, " the a ") > lit(0)).select(col("docId"))
    val phraseWant = Oracle.topKField(docsDF, "title", "the a", Int.MaxValue,
        conjunctive = true)
      .join(hasPhrase, Seq("docId"), "left_semi")
      .orderBy(col("score").desc, col("docId").asc).limit(10)
    assert(searcher.searchField("title", "the a", 10, phrase = true).toSeq
      == scored(phraseWant))
  }

  test("multiMatch ≡ exhaustive multi-field oracle; boosts scale per field") {
    val fields = Seq("text" -> 1.0, "title" -> 2.0)
    for (q <- Seq("the", "the a of", "one have t999", "zanzibar quasar lattice")) {
      val want = scored(Oracle.topKMulti(docsDF, q, fields, 10))
      val got = searcher.multiMatch(q, fields, 10).toSeq
      assert(got == want, s"multiMatch '$q':\n got=$got\n want=$want")
      assert(warmed.multiMatch(q, fields, 10).toSeq == want, s"warm multiMatch '$q'")
    }
    // single-field multiMatch over the main text with boost 1 ≡ search
    assert(searcher.multiMatch("the a of", Seq("text" -> 1.0), 10).toSeq
      == searcher.search("the a of", 10).toSeq)
    // a pure title match is boost-linear: boost 3 triples every score
    val b1 = searcher.multiMatch("was", Seq("title" -> 1.0), 10)
    val b3 = searcher.multiMatch("was", Seq("title" -> 3.0), 10)
    assert(b1.nonEmpty)
    assert(b3.map(_.docId).toSeq == b1.map(_.docId).toSeq)
    for ((x, y) <- b1.zip(b3)) assert(math.abs(y.score - 3.0 * x.score) < 1e-12)
  }

  test("field indexing leaves main-text scores bit-identical; expansion skips % terms") {
    built
    new IndexBuilder(spark, plainDir, "snap-fields-plain",
      cfg.copy(fieldCols = Nil, textFieldCols = Nil)).buildFrom(docsDF)
    val plain = new Searcher(spark, plainDir, cfg.numShards)
    for (q <- Seq("the a of", "one have t999", "zanzibar quasar lattice")) {
      assert(searcher.search(q, 10).toSeq == plain.search(q, 10).toSeq, s"invariance '$q'")
      assert(searcher.searchConjunctive(q, 10).toSeq == plain.searchConjunctive(q, 10).toSeq)
    }
    // prefix/wildcard/fuzzy expansion must never surface '%title:…' (or
    // '#role:…') terms: identical hits on the fielded and plain indexes
    assert(searcher.searchPrefix("t9", 10).toSeq == plain.searchPrefix("t9", 10).toSeq)
    assert(searcher.searchWildcard("t9*", 10).toSeq == plain.searchWildcard("t9*", 10).toSeq)
    assert(searcher.searchFuzzy("t999", 10).toSeq == plain.searchFuzzy("t999", 10).toSeq)
  }

  test("cross-segment fields: merged stats, LWW deletes, compaction all ≡ oracle") {
    built
    val idx = s"${TestSpark.tmpRoot}/index-fields-segs"
    val mid = docsDF.agg(expr("percentile_approx(docId, 0.5)")).head().get(0)
      .toString.toDouble.toLong
    new IndexBuilder(spark, s"$idx/seg-0", "fseg-0", cfg)
      .buildFrom(docsDF.filter(col("docId") < mid))
    new IndexBuilder(spark, s"$idx/seg-1", "fseg-1", cfg)
      .buildFrom(docsDF.filter(col("docId") >= mid))
    val multi = new graft.query.MultiSearcher(spark, idx)
    // merged field stats over 2 segments == the single-index build's
    assert(multi.fieldStatsMap == searcher.fieldStatsMap)
    for (q <- Seq("the", "the a of", "one have t999")) {
      assert(multi.searchField("title", q, 10).toSeq
        == scored(Oracle.topKField(docsDF, "title", q, 10)), s"multi field '$q'")
      assert(multi.multiMatch(q, Seq("text" -> 1.0, "title" -> 2.0), 10).toSeq
        == scored(Oracle.topKMulti(docsDF, q, Seq("text" -> 1.0, "title" -> 2.0), 10)),
        s"multi multiMatch '$q'")
      // round-6 surface parity: best_fields, fielded bool, fielded
      // expansion all answer identically on the unmerged segments
      assert(multi.multiMatch(q, Seq("text" -> 1.0, "title" -> 2.0), 10,
          bestFields = true, tieBreaker = 0.3).toSeq
        == scored(Oracle.topKMultiBest(docsDF, q, Seq("text" -> 1.0, "title" -> 2.0),
          0.3, 10)), s"multi best_fields '$q'")
    }
    assert(multi.searchBool("the a", 10, filters = Seq("role" -> "user"),
        field = "title").toSeq
      == searcher.searchBool("the a", 10, filters = Seq("role" -> "user"),
        field = "title").toSeq, "multi fielded bool ≠ single-index")
    assert(multi.searchPrefix("th", 10, field = "title").toSeq
      == searcher.searchPrefix("th", 10, field = "title").toSeq,
      "multi fielded prefix ≠ single-index")
    // LWW delete: field stats subtract the dead docs' field contributions
    // EXACTLY — post-delete queries match the oracle over the visible set
    val nDel = graft.streaming.StreamingIngest.deleteConvs(spark, idx,
      Seq("conv-00000003", "conv-00000042"))
    assert(nDel > 0)
    val multi2 = new graft.query.MultiSearcher(spark, idx)
    val visible = multi2.docs.cache()
    assert(visible.count() == docsDF.count() - nDel)
    for (q <- Seq("the", "the a of")) {
      assert(multi2.searchField("title", q, 10).toSeq
        == scored(Oracle.topKField(visible, "title", q, 10)), s"post-delete field '$q'")
      assert(multi2.multiMatch(q, Seq("text" -> 1.0, "title" -> 2.0), 10).toSeq
        == scored(Oracle.topKMulti(visible, q, Seq("text" -> 1.0, "title" -> 2.0), 10)),
        s"post-delete multiMatch '$q'")
    }
    // compaction: field postings merge, fieldstats recompute over the
    // survivors, per-field block maxima rescore — a plain Searcher agrees
    val compacted = s"${TestSpark.tmpRoot}/index-fields-compacted"
    graft.index.Compaction.compact(spark, idx, compacted)
    val single = new Searcher(spark, compacted, cfg.numShards)
    assert(single.fieldStatsMap == multi2.fieldStatsMap)
    for (q <- Seq("the", "the a of")) {
      assert(single.searchField("title", q, 10).toSeq
        == scored(Oracle.topKField(visible, "title", q, 10)), s"compacted field '$q'")
      assert(single.multiMatch(q, Seq("text" -> 1.0, "title" -> 2.0), 10).toSeq
        == multi2.multiMatch(q, Seq("text" -> 1.0, "title" -> 2.0), 10).toSeq)
    }
    visible.unpersist(blocking = false)
  }

  test("fielded STREAMING ingest: appendSegmentFrame carries extra columns, LWW-exact") {
    import org.apache.spark.sql.functions.{length => strlen}
    val idx = s"${TestSpark.tmpRoot}/index-fields-stream"
    val scfg = cfg.copy(numBuckets = 1)
    // raw turns + a derived title column — NO docId/dl (the frame append
    // assigns them); title varies per row incl. empties
    val raw = Transcripts.generate(spark, 80L).toDF()
      .withColumn("title", array_join(slice(Analyzer.tokensCol(col("text")), lit(1),
        pmod(strlen(col("text")), lit(7)).cast("int")), " "))
      .cache()
    graft.streaming.StreamingIngest.appendSegmentFrame(spark,
      raw.filter(col("conv_id") < "conv-00000040"), idx, 0L, scfg)
    // batch 1: the rest + an UPDATE of (conv-3, 1) with new text+title
    val upd = raw.filter(col("conv_id") === "conv-00000003" && col("turn_idx") === 1)
      .withColumn("text", lit("replacement body mentions quasar"))
      .withColumn("title", lit("replacement headline"))
      .withColumn("ts", (col("ts").cast("long") + 9999L).cast("timestamp"))
    graft.streaming.StreamingIngest.appendSegmentFrame(spark,
      raw.filter(col("conv_id") >= "conv-00000040").unionByName(upd), idx, 1L, scfg)
    val multi = new graft.query.MultiSearcher(spark, idx)
    val visible = multi.docs.cache()
    // LWW: every key once; the updated row shows the NEW title
    assert(visible.count() == raw.count())
    assert(visible.select("conv_id", "turn_idx").distinct().count() == visible.count())
    assert(visible.filter(col("conv_id") === "conv-00000003" && col("turn_idx") === 1)
      .select("title").head().getString(0) == "replacement headline")
    // fielded queries over the streamed index ≡ oracle over the visible
    // corpus (per-field stats tombstone-adjusted, incl. the replaced title)
    for (q <- Seq("the", "replacement headline", "the a of")) {
      assert(multi.searchField("title", q, 10).toSeq
        == scored(Oracle.topKField(visible, "title", q, 10)), s"stream field '$q'")
    }
    assert(multi.multiMatch("replacement quasar", Seq("text" -> 1.0, "title" -> 2.0), 10).toSeq
      == scored(Oracle.topKMulti(visible, "replacement quasar",
        Seq("text" -> 1.0, "title" -> 2.0), 10)))
    // keyword filters on the extra 'role' column work through the frame path
    assert(multi.searchBool("the", 10, filters = Seq("role" -> "user")).nonEmpty)
    visible.unpersist(blocking = false)
    raw.unpersist(blocking = false)
  }

  test("batched _msearch with fielded specs ≡ standalone (single + cross-segment + warm)") {
    import graft.query.BoolQuerySpec
    val specs = Seq(
      BoolQuerySpec("the a", field = "title"),
      BoolQuerySpec("the a", field = "title", conjunctive = true),
      BoolQuerySpec("the a", multiMatchFields = Seq("text" -> 1.0, "title" -> 2.0)),
      BoolQuerySpec("the a of"),
      BoolQuerySpec("definitely-notavocab-word", field = "title"))
    val want = Seq(
      searcher.searchField("title", "the a", 10).toSeq,
      searcher.searchField("title", "the a", 10, conjunctive = true).toSeq,
      searcher.multiMatch("the a", Seq("text" -> 1.0, "title" -> 2.0), 10).toSeq,
      searcher.search("the a of", 10).toSeq,
      Seq.empty[Scored])
    assert(want.take(4).forall(_.nonEmpty))
    assert(searcher.searchManyBool(specs, 10).map(_.toSeq) == want, "cold batch")
    assert(warmed.searchManyBool(specs, 10).map(_.toSeq) == want, "warm batch")
    // cross-segment: fresh 2-segment copy of the same corpus
    val idx = s"${TestSpark.tmpRoot}/index-fields-batch-segs"
    val mid = docsDF.agg(expr("percentile_approx(docId, 0.5)")).head().get(0)
      .toString.toDouble.toLong
    new IndexBuilder(spark, s"$idx/seg-0", "fbseg-0", cfg)
      .buildFrom(docsDF.filter(col("docId") < mid))
    new IndexBuilder(spark, s"$idx/seg-1", "fbseg-1", cfg)
      .buildFrom(docsDF.filter(col("docId") >= mid))
    val multi = new graft.query.MultiSearcher(spark, idx)
    val multiWant = Seq(
      multi.searchField("title", "the a", 10).toSeq,
      multi.searchField("title", "the a", 10, conjunctive = true).toSeq,
      multi.multiMatch("the a", Seq("text" -> 1.0, "title" -> 2.0), 10).toSeq,
      multi.search("the a of", 10).toSeq,
      Seq.empty[Scored])
    assert(multi.searchManyBool(specs, 10).map(_.toSeq) == multiWant, "cross-segment batch")
    // segments vs single index agree (same corpus, merged stats)
    assert(multiWant == want, "cross-segment ≠ single-index")
    // warm in-process cross-segment batch
    val warmMulti = new graft.query.MultiSearcher(spark, idx).warm()
    assert(warmMulti.searchManyBool(specs, 10).map(_.toSeq) == want, "warm-local batch")
  }

  test("multiMatch best_fields ≡ exhaustive oracle; tb edges ≡ max and most_fields") {
    val fields = Seq("text" -> 1.0, "title" -> 2.0)
    for (q <- Seq("the", "the a of", "one have t999"); tb <- Seq(0.0, 0.3, 1.0)) {
      val want = scored(Oracle.topKMultiBest(docsDF, q, fields, tb, 10))
      val got = searcher.multiMatch(q, fields, 10, bestFields = true, tieBreaker = tb).toSeq
      assert(got == want, s"best_fields '$q' tb=$tb:\n got=$got\n want=$want")
      assert(warmed.multiMatch(q, fields, 10, bestFields = true, tieBreaker = tb).toSeq
        == want, s"warm best_fields '$q' tb=$tb")
    }
    // tb = 1 is BIT-identical to the most_fields sum
    for (q <- Seq("the a of", "one have t999"))
      assert(searcher.multiMatch(q, fields, 10, bestFields = true, tieBreaker = 1.0).toSeq
        == searcher.multiMatch(q, fields, 10).toSeq, s"tb=1 ≠ most_fields '$q'")
    // tie_breaker outside [0,1] is rejected
    intercept[IllegalArgumentException] {
      searcher.multiMatch("the", fields, 10, bestFields = true, tieBreaker = 1.5)
    }
  }

  test("best_fields + should: should terms add at FULL weight outside the dis-max (round-6 advice)") {
    val fields = Seq("text" -> 1.0, "title" -> 2.0)
    // the should term must co-occur with the must query for the clause
    // to bite ('zanzibar' markers ride normal transcript turns)
    val co = docsDF.filter(
      array_contains(Analyzer.tokensCol(col("text")), "zanzibar") &&
        array_contains(Analyzer.tokensCol(col("text")), "the")).count()
    assert(co > 0)
    for (tb <- Seq(0.0, 0.3)) {
      val want = scored(Oracle.topKMultiBestShould(docsDF, "the", fields, tb, "zanzibar", 10))
      val got = searcher.searchBool("the", 10, multiMatchFields = fields,
        multiMatchBest = true, tieBreaker = tb, should = "zanzibar").toSeq
      assert(got == want && got.nonEmpty, s"bf+should tb=$tb:\n got=$got\n want=$want")
      assert(warmed.searchBool("the", 10, multiMatchFields = fields,
        multiMatchBest = true, tieBreaker = tb, should = "zanzibar").toSeq == want)
      // batch parity
      assert(searcher.searchManyBool(Seq(graft.query.BoolQuerySpec("the",
        multiMatchFields = fields, multiMatchBest = true, tieBreaker = tb,
        should = "zanzibar")), 10).head.toSeq == want)
    }
    // the should contribution actually changes the ranking (tb = 0: the
    // old fold gave it tieBreaker weight inside field ordinal 0)
    assert(searcher.searchBool("the", 10, multiMatchFields = fields,
        multiMatchBest = true, tieBreaker = 0.0, should = "zanzibar").toSeq
      != searcher.searchBool("the", 10, multiMatchFields = fields,
        multiMatchBest = true, tieBreaker = 0.0).toSeq)
  }

  test("fielded searchBool: field + multiMatchFields with filter clauses ≡ batch ≡ oracle") {
    built
    // per-field match restricted by a keyword filter — the standalone
    // searchBool now carries the field (round-5 review ask #3)
    val got = searcher.searchBool("the a", 10, filters = Seq("role" -> "user"),
      field = "title").toSeq
    val batch = searcher.searchManyBool(Seq(graft.query.BoolQuerySpec("the a",
      field = "title", filters = Seq("role" -> "user"))), 10).head.toSeq
    assert(got == batch, "standalone fielded bool ≠ batch-of-one")
    val userDocs = docsDF.filter(col("role") === "user").select(col("docId"))
    val want = scored(Oracle.topKField(docsDF, "title", "the a", Int.MaxValue)
      .join(userDocs, Seq("docId"), "left_semi")
      .orderBy(col("score").desc, col("docId").asc).limit(10))
    assert(got == want, s"fielded bool: got=$got want=$want")
    assert(got.nonEmpty)
    // multi_match inside a filtered bool, most_fields AND best_fields
    for (best <- Seq(false, true)) {
      val mmGot = searcher.searchBool("the a", 10, filters = Seq("role" -> "user"),
        multiMatchFields = Seq("text" -> 1.0, "title" -> 2.0),
        multiMatchBest = best, tieBreaker = 0.3).toSeq
      val mmBatch = searcher.searchManyBool(Seq(graft.query.BoolQuerySpec("the a",
        multiMatchFields = Seq("text" -> 1.0, "title" -> 2.0),
        multiMatchBest = best, tieBreaker = 0.3,
        filters = Seq("role" -> "user"))), 10).head.toSeq
      assert(mmGot == mmBatch, s"mm bool (best=$best) ≠ batch-of-one")
      val oracleAll =
        if (best) Oracle.topKMultiBest(docsDF, "the a", Seq("text" -> 1.0, "title" -> 2.0),
          0.3, Int.MaxValue)
        else Oracle.topKMulti(docsDF, "the a", Seq("text" -> 1.0, "title" -> 2.0),
          Int.MaxValue)
      val mmWant = scored(oracleAll.join(userDocs, Seq("docId"), "left_semi")
        .orderBy(col("score").desc, col("docId").asc).limit(10))
      assert(mmGot == mmWant, s"mm bool (best=$best): got=$mmGot want=$mmWant")
      assert(mmGot.nonEmpty)
    }
  }

  test("per-field term expansion: prefix/wildcard/fuzzy expand within %title: only") {
    built
    val titleToks = docsDF.select(explode(Analyzer.tokensCol(col("title"))).as("t"))
      .distinct().as[String].collect().toSeq.sorted
    def fieldOracle(toks: Seq[String]): Seq[Scored] =
      if (toks.isEmpty) Seq.empty
      else scored(Oracle.topKField(docsDF, "title", toks.mkString(" "), 10))
    // prefix
    val pToks = titleToks.filter(_.startsWith("th"))
    assert(pToks.nonEmpty && pToks.size < 50)
    assert(searcher.searchPrefix("th", 10, field = "title").toSeq == fieldOracle(pToks))
    assert(warmed.searchPrefix("th", 10, field = "title").toSeq == fieldOracle(pToks))
    // wildcard ("t*e" ⇒ ^t.*e$ against bare title tokens)
    val rx = "^t.*e$".r
    val wToks = titleToks.filter(t => rx.findFirstIn(t).isDefined)
    assert(wToks.nonEmpty && wToks.size < 50)
    assert(searcher.searchWildcard("t*e", 10, field = "title").toSeq == fieldOracle(wToks))
    // fuzzy
    val fToks = titleToks.filter(t => searcher.levenshtein("thee", t) <= 1)
    assert(fToks.nonEmpty && fToks.size < 50)
    assert(searcher.searchFuzzy("thee", 10, maxDist = 1, field = "title").toSeq
      == fieldOracle(fToks))
  }

  test("per-field highlighting fragments the FIELD's own column") {
    built
    val rows = searcher.searchHighlighted("the", 3, window = 3, field = "title").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val frag = r.getAs[String]("fragment")
      val title = r.getAs[String]("title")
      assert(frag.contains("<em>the</em>"), s"fragment '$frag' lacks highlight")
      // the fragment derives from the TITLE text, not the body
      assert(Analyzer.tokenize(title).contains("the"))
    }
    // ranking matches the fielded search
    val hits = searcher.searchField("title", "the", 3)
    assert(rows.map(_.getAs[Long]("docId")).toSeq == hits.map(_.docId).toSeq)
  }

  test("heterogeneous segments: a same-named doc-store column never skews field stats") {
    // round-5 ADVICE (low): per-field removed-stats (and Compaction's
    // merged fieldstats) re-derived field dl from the NAMED doc-store
    // column of ALL segments — a segment built WITHOUT textFieldCols
    // but carrying a populated column of the same name would subtract
    // dead-doc contributions it never made. Gate: only segments with
    // their own fieldstats entry count.
    import graft.streaming.StreamingIngest
    val idx = s"${TestSpark.tmpRoot}/index-fields-hetero"
    val cfgField = IndexConfig(numBuckets = 1, numShards = 8, blockSize = 32,
      partitions = 4, textFieldCols = Seq("title"))
    val src = Transcripts.generate(spark, 60L).toDF()
      .withColumn("title", array_join(slice(Analyzer.tokensCol(col("text")),
        lit(1), lit(3)), " "))
    // seg-0 INDEXES title; seg-1 carries the populated column UNindexed
    StreamingIngest.appendSegmentFrame(spark,
      src.filter(col("conv_id") < "conv-00000030"), idx, 0L, cfgField)
    StreamingIngest.appendSegmentFrame(spark,
      src.filter(col("conv_id") >= "conv-00000030"), idx, 1L,
      cfgField.copy(textFieldCols = Nil))
    val multi = new graft.query.MultiSearcher(spark, idx)
    val docsA = multi.docs.filter(col("conv_id") < "conv-00000030").cache()
    val q = "the a"
    val want = scored(Oracle.topKField(docsA, "title", q, 10))
    assert(want.nonEmpty)
    assert(multi.searchField("title", q, 10).toSeq == want, "pre-delete fielded search")
    // delete convs living ONLY in the un-indexed segment: their titled
    // docs must subtract NOTHING from the title field's stats
    val nDel = StreamingIngest.deleteConvs(spark, idx,
      Seq("conv-00000040", "conv-00000050"))
    assert(nDel > 0)
    val multi2 = new graft.query.MultiSearcher(spark, idx)
    assert(multi2.searchField("title", q, 10).toSeq == want,
      "dead un-indexed docs subtracted from field stats they never joined")
    // compaction applies the same gate when recomputing merged fieldstats
    graft.index.Compaction.compactInPlace(spark, idx)
    val single = new Searcher(spark,
      graft.index.SegmentCatalog.liveSegments(spark, idx).head, cfgField.numShards)
    assert(single.searchField("title", q, 10).toSeq == want, "post-compaction fielded search")
    val wantStats = docsA.agg(
      count(when(Analyzer.dlCol(col("title")) > lit(0), 1)),
      sum(Analyzer.dlCol(col("title")).cast("long"))).head()
    val (nF, avgdlF) = single.fieldStatsMap("title")
    assert(nF == wantStats.getLong(0), s"merged docCount $nF != A-only ${wantStats.getLong(0)}")
    assert(math.abs(avgdlF - wantStats.getLong(1).toDouble / nF) < 1e-12)
    docsA.unpersist(blocking = false)
  }

  test("namespaces: textTerm/textFieldOf round-trip and stay disjoint") {
    assert(FieldTerms.textTerm("text", "foo") == "foo")
    assert(FieldTerms.textTerm("title", "foo") == "%title:foo")
    assert(FieldTerms.textFieldOf("%title:foo").contains("title"))
    assert(FieldTerms.textFieldOf("foo").isEmpty)
    assert(FieldTerms.textFieldOf("#role:user").isEmpty)
    assert(FieldTerms.isNamespaced("#role:user"))
    assert(FieldTerms.isNamespaced("%title:foo"))
    assert(!FieldTerms.isNamespaced("plain"))
  }
}
