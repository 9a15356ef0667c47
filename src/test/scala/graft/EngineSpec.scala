package graft

import org.apache.spark.sql.functions._

import graft.corpus.Transcripts
import graft.index.{Compaction, DocIds, IndexBuilder, IndexConfig, SegmentCatalog}
import graft.model.Scored
import graft.query.{Expansion, Oracle, Searcher}
import graft.streaming.StreamingIngest

/** Golden end-to-end: the full engine (docIds → salted build → compressed
  * blocks → block-max WAND) must be rank-identical — docIDs AND BM25
  * scores — to the in-repo exhaustive-scoring oracle on the reference
  * query set over the seed-42 corpus (north_rule correctness gate).
  */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private val nConvs = 400L
  private lazy val indexDir = s"${TestSpark.tmpRoot}/index-golden"
  private lazy val cfg = IndexConfig(numBuckets = 3, numShards = 8, blockSize = 32, partitions = 8)

  private lazy val built: graft.index.BuildReport = {
    val turns = DocIds.dedup(Transcripts.generate(spark, nConvs))
    val docs = DocIds.assign(turns, 8)
    // the fixture is below one partition's docs: the seam keeps the block
    // phase at cfg.partitions (2 docId slices per bucket)
    new IndexBuilder(spark, indexDir, "snap-test-1", cfg) {
      override protected def docsPerPart: Long = 1L
    }.build(docs)
  }
  private lazy val searcher = { built; new Searcher(spark, indexDir, cfg.numShards) }
  private lazy val docsDF = { built; spark.read.parquet(s"$indexDir/docs") }

  // The reference query set (FIXTURES.md §2): rare, hot, mixed, markers,
  // OOV, analyzed-away.
  private val queries = Seq(
    "zanzibar",                         // rare marker term
    "zanzibar quasar lattice",          // planted phrase
    "cinnabar monolith archipelago",    // planted phrase, partial overlap
    "perihelion vellum",                // planted phrase
    "the",                              // hottest Zipf term
    "the a of",                         // multiple hot terms
    "the zanzibar",                     // hot + rare mix
    "t100 t2000 t30000",                // mid + rare Zipf terms
    "one have t999",                    // mixed
    "definitely-notavocab-word",        // OOV → empty
    "!!! ...",                          // analyzes away → empty
    "The, A; OF!",                      // case/punct normalization
    "t10 t11 t12 t13",                  // 4-term conjunction material
    "t1 t500000x the"                   // mix incl. OOV
  )

  test("docIds are dense, gap-free, ordered by (conv_id, turn_idx)") {
    val ids = docsDF.select("docId", "conv_id", "turn_idx")
      .orderBy("conv_id", "turn_idx").as[(Long, String, Int)].collect()
    assert(ids.map(_._1).toSeq == ids.indices.map(_.toLong).toSeq)
    // across range partitions: a corpus of several partitions' docs is
    // numbered in ≥ 2 partitions, each one contiguous run of docIds,
    // following each other in partition order
    val many = DocIds.assign(DocIds.dedup(Transcripts.generate(spark, 1000L)), 8)
    val runs = many.rdd.mapPartitionsWithIndex { (i, it) =>
      val d = it.map(_.docId).toArray
      Iterator((i, d.headOption.getOrElse(-1L), d.lastOption.getOrElse(-1L), d.length,
        d.indices.forall(j => d(j) == d.head + j)))
    }.collect().sortBy(_._1)
    assert(runs.length >= 2)
    assert(runs.forall(r => r._4 > 0 && r._5), runs.toSeq)
    assert(runs.head._2 == 0L)
    runs.sliding(2).foreach { case Array(a, b) => assert(b._2 == a._3 + 1, runs.toSeq) }
    val manyIds = many.toDF().select("docId", "conv_id", "turn_idx")
      .orderBy("conv_id", "turn_idx").as[(Long, String, Int)].collect()
    assert(manyIds.map(_._1).toSeq == manyIds.indices.map(_.toLong).toSeq)
    many.unpersist(blocking = true)
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering") {
    val src = Transcripts.generate(spark, nConvs)
      .orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect()
    val idx = docsDF.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect()
    assert(src.toSeq == idx.toSeq)
  }

  test("WAND top-k rank-identical (docIds AND scores) to exhaustive oracle") {
    for (q <- queries) {
      val want = Oracle.topK(docsDF, q, 10).as[Scored].collect().toSeq
      val got = searcher.search(q, 10).toSeq
      assert(got == want, s"query '$q':\n got=$got\n want=$want")
    }
  }

  test("conjunctive (AND) top-k rank-identical to oracle") {
    // "zanzibar cinnabar": both terms exist but never co-occur, and each
    // lives in a bucket missing the other — regression for the
    // missing-term-in-bucket false-positive bug
    for (q <- Seq("the a", "zanzibar quasar", "t10 t11 the", "the definitely-notavocab",
        "zanzibar cinnabar", "perihelion the")) {
      val want = Oracle.topKConjunctive(docsDF, q, 10).as[Scored].collect().toSeq
      val got = searcher.searchConjunctive(q, 10).toSeq
      assert(got == want, s"AND query '$q':\n got=$got\n want=$want")
    }
  }

  test("phrase top-k rank-identical to exhaustive phrase oracle") {
    val phrases = Seq(
      "zanzibar quasar lattice", // planted adjacent phrase
      "zanzibar quasar",         // planted prefix
      "quasar zanzibar",         // reversed → adjacency decides
      "zanzibar lattice",        // co-occurring but not adjacent
      "the a", "of the", "a the",
      "the the",                 // repeated term
      "the definitely-notavocab" // OOV member → empty
    )
    for (q <- phrases) {
      val want = Oracle.topKPhrase(docsDF, q, 10).as[Scored].collect().toSeq
      val got = searcher.searchPhrase(q, 10).toSeq
      assert(got == want, s"phrase '$q':\n got=$got\n want=$want")
    }
    // the planted phrase must actually produce hits (not vacuous)
    assert(searcher.searchPhrase("zanzibar quasar lattice", 10).nonEmpty)
    // reversed order is NOT a conjunctive match here: adjacency is real
    assert(searcher.searchPhrase("lattice quasar", 10).isEmpty)
    // warm/local serving path identical
    val warm = new Searcher(spark, indexDir, cfg.numShards).warm()
    for (q <- phrases)
      assert(warm.searchPhrase(q, 10).toSeq == searcher.searchPhrase(q, 10).toSeq,
        s"local phrase '$q'")
  }

  test("prefix/wildcard/fuzzy expand to vocab terms and score as BM25 OR") {
    // 'zanz*' expands to exactly {zanzibar} → identical to a term query
    assert(searcher.searchPrefix("zanz", 10).toSeq == searcher.search("zanzibar", 10).toSeq)
    assert(searcher.searchPrefix("zanz", 10).nonEmpty)
    // '*bar' expands to {cinnabar, zanzibar} → OR-oracle over both terms
    val want = Oracle.topK(docsDF, "zanzibar cinnabar", 10).as[Scored].collect().toSeq
    assert(searcher.searchWildcard("*bar", 10).toSeq == want)
    // one-typo fuzzy hits the marker term; far-away strings expand to ∅
    assert(searcher.searchFuzzy("zanzibat", 10).toSeq == searcher.search("zanzibar", 10).toSeq)
    assert(searcher.searchFuzzy("qqqqqqqqqqq", 10, maxDist = 1).isEmpty)
    // warm driver-local path expands from dictMap — identical results
    val warm = new Searcher(spark, indexDir, cfg.numShards).warm()
    assert(warm.searchPrefix("zanz", 10).toSeq == searcher.searchPrefix("zanz", 10).toSeq)
    assert(warm.searchWildcard("*bar", 10).toSeq == searcher.searchWildcard("*bar", 10).toSeq)
    assert(warm.searchFuzzy("zanzibat", 10).toSeq == searcher.searchFuzzy("zanzibat", 10).toSeq)
    // scala-side levenshtein ≡ the SQL twins' semantics (spot values)
    assert(Expansion.levenshtein("sprak", "spark") == 2)
    assert(Expansion.levenshtein("s", "spark") == 4)
    assert(Expansion.levenshtein("", "abc") == 3 && Expansion.levenshtein("abc", "abc") == 0)
  }

  test("wildcard twins: the warm regex expansion ≡ the cold LIKE expansion") {
    val warm = new Searcher(spark, indexDir, cfg.numShards).warm()
    // `?` inside, `*?`, a leading `?`, no wildcard at all, and a `?` past
    // the end of every term (no expansion on either path)
    for (p <- Seq("zanzi?ar", "qua?a?", "zanz*?", "cinna*?", "?uasar", "zanzibar", "zanzibar?")) {
      val cold = searcher.searchWildcard(p, 10).toSeq
      assert(warm.searchWildcard(p, 10).toSeq == cold, s"pattern '$p'")
      assert(cold.isEmpty == (p == "zanzibar?"), s"pattern '$p' expanded to ${cold.size} hits")
    }
    assert(searcher.searchWildcard("zanzibar", 10).toSeq == searcher.search("zanzibar", 10).toSeq)
    assert(searcher.searchWildcard("zanzi?ar", 10).toSeq == searcher.search("zanzibar", 10).toSeq)
  }

  test("regexp query: whole-term anchoring, BM25 OR over the expansion (round-7)") {
    // 'zanz.bar' matches exactly {zanzibar} → identical to a term query
    assert(searcher.searchRegexp("zanz.bar", 10).toSeq
      == searcher.search("zanzibar", 10).toSeq)
    assert(searcher.searchRegexp("zanz.bar", 10).nonEmpty)
    // '.*bar' ≡ wildcard '*bar' (same expansion rule, same ranking)
    assert(searcher.searchRegexp(".*bar", 10).toSeq
      == searcher.searchWildcard("*bar", 10).toSeq)
    // Lucene semantics anchor to the WHOLE term: a mere substring match
    // is NOT a hit ('anzibar' matches no full term)
    assert(searcher.searchRegexp("anzibar", 10).isEmpty)
    // warm driver-map path identical
    val warm = new Searcher(spark, indexDir, cfg.numShards).warm()
    assert(warm.searchRegexp("zanz.bar", 10).toSeq
      == searcher.searchRegexp("zanz.bar", 10).toSeq)
    assert(warm.searchRegexp(".*bar", 10).toSeq == searcher.searchRegexp(".*bar", 10).toSeq)
  }

  test("match fuzziness: per-token capped expansion, union scored as one OR (round-7)") {
    // recompute the engine's expansion rule from the raw vocabulary
    val vocab = docsDF
      .select(explode(array_distinct(graft.analysis.Analyzer.tokensCol(col("text")))).as("t"))
      .distinct().as[String].collect().toSet
    def exp(w: String, d: Int) = vocab.filter(t =>
      math.abs(t.length - w.length) <= d && Expansion.levenshtein(w, t) <= d)
      .toSeq.sorted.take(50)
    for ((q, d) <- Seq(("zanzibat quasat", 1), ("zanzibar lattice", 1))) {
      val toks = graft.analysis.Analyzer.analyzeQuery(q).toSeq
      val selected = toks.flatMap(exp(_, d)).distinct.sorted
      val want = Oracle.topK(docsDF, selected.mkString(" "), 10).as[Scored].collect().toSeq
      val got = searcher.searchMatchFuzzy(q, 10, maxDist = d)
      assert(got.toSeq == want && got.nonEmpty, s"matchFuzzy '$q' d=$d:\n got=${got.toSeq}\n want=$want")
    }
    // dist 0 keeps an indexed token itself: matchFuzzy ⊇ plain match
    assert(searcher.searchMatchFuzzy("zanzibar quasar", 10, maxDist = 0).toSeq
      == searcher.search("zanzibar quasar", 10).toSeq)
    // warm path identical
    val warm = new Searcher(spark, indexDir, cfg.numShards).warm()
    assert(warm.searchMatchFuzzy("zanzibat quasat", 10).toSeq
      == searcher.searchMatchFuzzy("zanzibat quasat", 10).toSeq)
  }

  test("dis_max: best group + tie_breaker · others; tie_breaker = 1 ≡ bool OR sum (round-7)") {
    val subs = Seq("zanzibar quasar", "the lattice")
    // identity: tie_breaker = 1 degenerates to the plain one-sum OR
    assert(searcher.searchDisMax(subs, 10, tieBreaker = 1.0).toSeq
      == searcher.search("zanzibar quasar the lattice", 10).toSeq)
    // general tie_breaker: the FP-exact dis-max oracle (best group by
    // ordered-term sums, per-term weighted re-sum in global term order)
    for (tb <- Seq(0.0, 0.4)) {
      val want = Oracle.topKDisMax(docsDF, subs, tb, 10).as[Scored].collect().toSeq
      val got = searcher.searchDisMax(subs, 10, tieBreaker = tb)
      assert(got.toSeq == want && got.nonEmpty, s"dis_max tb=$tb:\n got=${got.toSeq}\n want=$want")
    }
    // overlapping term sets are SUPPORTED since round 8 (per-(group,
    // term) iterator instances — ES scores sub-queries independently).
    // tb ∈ {0, 1} pin the shared case against the frame oracle
    // FP-exactly (equal / zero same-key instances commute); arbitrary
    // tb with overlap is pinned bit-exactly by the WandSpec 120-case
    // randomized brute.
    val shared = Seq("the zanzibar", "the quasar")
    for (tb <- Seq(0.0, 1.0)) {
      val wantS = Oracle.topKDisMax(docsDF, shared, tb, 10).as[Scored].collect().toSeq
      val gotS = searcher.searchDisMax(shared, 10, tieBreaker = tb)
      assert(gotS.toSeq == wantS && gotS.nonEmpty,
        s"shared dis_max tb=$tb:\n got=${gotS.toSeq}\n want=$wantS")
    }
    // a FULLY shared single-term overlap at tb=0 ≡ the plain term query
    assert(searcher.searchDisMax(Seq("zanzibar", "zanzibar"), 10, tieBreaker = 0.0).toSeq
      == searcher.search("zanzibar", 10).toSeq)
  }

  test("a v2 segment (dict without the len column) fails loudly at every reader") {
    // the edit-distance scans prune on `len` with no null escape: a dict
    // written before it exists only in a segment of an older format,
    // which no reader opens
    val dir = s"${TestSpark.tmpRoot}/stream-legacy-len"
    StreamingIngest.appendSegment(spark, Transcripts.generate(spark, 20L), dir, 0L,
      IndexConfig(numBuckets = 1, partitions = 4))
    val seg = s"$dir/seg-0"
    val fs = new org.apache.hadoop.fs.Path(seg).getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$seg/dict").drop("len").write.parquet(s"$seg/dict2")
    fs.delete(new org.apache.hadoop.fs.Path(s"$seg/dict"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$seg/dict2"), new org.apache.hadoop.fs.Path(s"$seg/dict")))
    stampFormat(seg, Some(2))
    assertRejectedEverywhere(dir, seg)
  }

  test("bool query: filter context + must_not ≡ global-stats oracle with semi/anti-join") {
    // separate index with fielded keyword terms enabled; the TEXT index
    // content is byte-identical to the plain build (field terms live in a
    // disjoint '#field:value' namespace and never touch text-term stats)
    val dir = s"${TestSpark.tmpRoot}/index-fielded"
    val docs = DocIds.assign(DocIds.dedup(Transcripts.generate(spark, nConvs)), 8)
    new IndexBuilder(spark, dir, "snap-fielded", cfg.copy(fieldCols = Seq("role", "tool")))
      .build(docs)
    val s = new Searcher(spark, dir, cfg.numShards)
    val d = spark.read.parquet(s"$dir/docs")
    // ES filter-context semantics: scores come from the FULL corpus stats
    // (filters don't re-weight df/N/avgdl) — so the oracle ranks ALL docs
    // with the plain exhaustive scorer, then semi/anti-joins the filter
    def want(q: String, preds: Seq[(String, String)], anti: Boolean, k: Int,
        phrase: Boolean = false, conj: Boolean = false): Seq[Scored] = {
      val ranked =
        if (phrase) Oracle.topKPhrase(d, q, Int.MaxValue)
        else if (conj) Oracle.topKConjunctive(d, q, Int.MaxValue)
        else Oracle.topK(d, q, Int.MaxValue)
      val match_ = preds.foldLeft(d)((acc, p) => acc.filter(col(p._1) === lit(p._2)))
        .select("docId")
      ranked.join(match_, Seq("docId"), if (anti) "left_anti" else "left_semi")
        .orderBy(col("score").desc, col("docId").asc).limit(k)
        .as[Scored].collect().toSeq
    }
    for (q <- Seq("the", "one have t999", "zanzibar", "the a of");
        r <- Seq("user", "assistant", "tool")) {
      val f = Seq("role" -> r)
      assert(s.searchBool(q, 10, filters = f).toSeq == want(q, f, anti = false, 10),
        s"filter '$q' role=$r")
      assert(s.searchBool(q, 10, mustNot = f).toSeq == want(q, f, anti = true, 10),
        s"must_not '$q' role=$r")
    }
    // multiple filter clauses AND together (role=tool ∧ tool=tool3)
    val both = Seq("role" -> "tool", "tool" -> "tool3")
    assert(s.searchBool("the", 10, filters = both).toSeq == want("the", both, anti = false, 10))
    assert(s.searchBool("the", 10, filters = both).nonEmpty)
    // conjunctive and phrase modes compose with filters
    assert(s.searchBool("the a", 10, filters = Seq("role" -> "user"), conjunctive = true).toSeq
      == want("the a", Seq("role" -> "user"), anti = false, 10, conj = true))
    assert(s.searchBool("of the", 10, filters = Seq("role" -> "assistant"), phrase = true).toSeq
      == want("of the", Seq("role" -> "assistant"), anti = false, 10, phrase = true))
    // a filter value absent from the index matches nothing
    assert(s.searchBool("the", 10, filters = Seq("role" -> "no-such-role")).isEmpty)
    // unknown must_not value excludes nothing
    assert(s.searchBool("the", 10, mustNot = Seq("role" -> "no-such-role")).toSeq
      == s.search("the", 10).toSeq)
    // filter terms never perturb scores: surviving docs score exactly as
    // in the unfiltered query
    val unfiltered = s.search("one have t999", 100).toSeq.map(x => x.docId -> x.score).toMap
    for (hit <- s.searchBool("one have t999", 10, filters = Seq("role" -> "user")))
      assert(unfiltered(hit.docId) == hit.score)
    // ES `terms` clause (doc carries ANY of the values) and `range`
    // clause (lexicographic, inclusive, dictionary-expanded) — oracle is
    // the same global-stats rank + arbitrary-predicate semi-join
    def wantWhere(q: String, cond: org.apache.spark.sql.Column, k: Int): Seq[Scored] =
      Oracle.topK(d, q, Int.MaxValue)
        .join(d.filter(cond).select("docId"), Seq("docId"), "left_semi")
        .orderBy(col("score").desc, col("docId").asc).limit(k)
        .as[Scored].collect().toSeq
    val anyGot = s.searchBool("the", 10, anyFilters = Seq("role" -> Seq("user", "tool")))
    assert(anyGot.toSeq == wantWhere("the", col("role").isin("user", "tool"), 10))
    assert(anyGot.nonEmpty)
    val rangeGot = s.searchBool("the", 10, rangeFilters = Seq(("tool", "tool2", "tool5")))
    assert(rangeGot.toSeq ==
      wantWhere("the", col("tool") >= lit("tool2") && col("tool") <= lit("tool5"), 10))
    assert(rangeGot.nonEmpty)
    // clauses AND together: equality + terms clause
    assert(s.searchBool("the", 10, filters = Seq("role" -> "tool"),
        anyFilters = Seq("tool" -> Seq("tool1", "tool3"))).toSeq ==
      wantWhere("the", col("role") === lit("tool") && col("tool").isin("tool1", "tool3"), 10))
    // a terms clause with only unknown values matches nothing; with a
    // mix, the unknown member is simply inert
    assert(s.searchBool("the", 10, anyFilters = Seq("role" -> Seq("nope", "also-nope"))).isEmpty)
    assert(s.searchBool("the", 10, anyFilters = Seq("role" -> Seq("nope", "user"))).toSeq ==
      s.searchBool("the", 10, filters = Seq("role" -> "user")).toSeq)
    // warm driver-local path identical (incl. dictMap-side range expansion)
    val warm = new Searcher(spark, dir, cfg.numShards).warm()
    for (q <- Seq("the", "one have t999"); r <- Seq("user", "tool")) {
      val f = Seq("role" -> r)
      assert(warm.searchBool(q, 10, filters = f).toSeq == s.searchBool(q, 10, filters = f).toSeq)
      assert(warm.searchBool(q, 10, mustNot = f).toSeq == s.searchBool(q, 10, mustNot = f).toSeq)
    }
    assert(warm.searchBool("the", 10, anyFilters = Seq("role" -> Seq("user", "tool"))).toSeq
      == anyGot.toSeq)
    assert(warm.searchBool("the", 10, rangeFilters = Seq(("tool", "tool2", "tool5"))).toSeq
      == rangeGot.toSeq)
    // TEXT-side expansion must never cross into the keyword namespace:
    // patterns that only '#field:value' terms could match expand to ∅
    // (ES never matches analyzed-field wildcards against keyword fields)
    assert(s.searchWildcard("#role:*", 10).isEmpty)
    assert(s.searchWildcard("*:user", 10).isEmpty)
    assert(warm.searchWildcard("#role:*", 10).isEmpty)
    assert(warm.searchWildcard("*:user", 10).isEmpty)
  }

  test("facet counts (terms aggregation) over the full match set ≡ DataFrame oracle") {
    for (q <- Seq("zanzibar quasar", "the", "one have t999")) {
      val terms = graft.analysis.Analyzer.analyzeQuery(q).toSeq
      val matchingOracle = docsDF
        .select(col("docId"), col("role"), col("dl"),
          graft.analysis.Analyzer.tokensCol(col("text")).as("toks"))
        .filter(arrays_overlap(col("toks"), lit(terms.toArray)))
      val want = matchingOracle
        .groupBy(col("role")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("role"))
        .as[(String, Long)].collect().toSeq
      val got = searcher.facetCounts(q, "role").as[(String, Long)].collect().toSeq
      assert(got == want, s"facets '$q':\n got=$got\n want=$want")
      assert(got.nonEmpty)
      // hit count + field sort run over the same match set
      assert(searcher.matchCount(q) == matchingOracle.count(), s"matchCount '$q'")
      val wantSorted = matchingOracle
        .orderBy(col("dl").desc, col("docId").asc).limit(10)
        .select("docId", "dl").as[(Long, Int)].collect().toSeq
      val gotSorted = searcher.searchSortedBy(q, "dl", 10)
        .as[(Long, Int)].collect().toSeq
      assert(gotSorted == wantSorted, s"sortBy '$q':\n got=$gotSorted\n want=$wantSorted")
    }
    assert(searcher.facetCounts("definitely-notavocab-word", "role").count() == 0)
    assert(searcher.matchCount("definitely-notavocab-word") == 0L)
    assert(searcher.searchSortedBy("definitely-notavocab-word", "dl", 10).count() == 0)
  }

  test("highlighting wraps matched analyzed tokens in the resolved fragment") {
    val rows = searcher.searchHighlighted("zanzibar quasar lattice", 10)
      .select("docId", "fragment").as[(Long, String)].collect()
    assert(rows.nonEmpty)
    for ((_, frag) <- rows) {
      assert(frag != null && frag.contains("<em>zanzibar</em>"),
        s"fragment missing highlighted marker: $frag")
    }
    // pure-function checks: window clipping, ellipses, no-match → null
    import graft.query.Highlight
    assert(Highlight.fragment("a b c MARKER d e f", Set("marker"), 1) == "…c <em>MARKER</em> d…")
    assert(Highlight.fragment("MARKER tail", Set("marker"), 5) == "<em>MARKER</em> tail")
    assert(Highlight.fragment("Punct, marker! done.", Set("marker"), 5)
      == "Punct, <em>marker</em>! done")
    assert(Highlight.fragment("no hits here", Set("marker"), 5) == null)
    assert(Highlight.fragment("x marker y marker z", Set("marker"), 2)
      == "x <em>marker</em> y <em>marker</em>…")
  }

  test("multi-fragment highlighting: best-N non-overlapping windows, ellipsis joining (round-7)") {
    import graft.query.Highlight
    // two separated matches → two ranked fragments, each own ellipses;
    // the 2-distinct-term window outranks the earlier 1-term window
    val text = "alpha MARKER beta x1 x2 x3 x4 x5 gamma MARKER other delta"
    assert(Highlight.fragments(text, Set("marker", "other"), 1, 5)
      == Seq("…gamma <em>MARKER</em> <em>other</em>…", "alpha <em>MARKER</em> beta…"))
    // overlap suppression: adjacent matches collapse into ONE window
    // (the first match's window [0,3] wins; the second's overlaps)
    assert(Highlight.fragments("a MARKER b MARKER c", Set("marker"), 2, 5)
      == Seq("a <em>MARKER</em> b <em>MARKER</em>…"))
    // maxFragments cap is honored; rank order = distinct desc, first asc
    val many = "m1 p q r s t u m2 p q r s t u m3"
    assert(Highlight.fragments(many, Set("m1", "m2", "m3"), 1, 2)
      == Seq("<em>m1</em> p…", "…u <em>m2</em> p…"))
    // no match → empty; zero budget → empty
    assert(Highlight.fragments("nothing here", Set("marker"), 3, 5).isEmpty)
    assert(Highlight.fragments("MARKER", Set("marker"), 3, 0).isEmpty)
    // resolved-hit wiring: the fragments column is a non-empty array
    // whose every entry wraps the marker
    val rows = searcher.searchHighlighted("zanzibar", 5, window = 3, numberOfFragments = 3)
      .select("docId", "fragments").as[(Long, Seq[String])].collect()
    assert(rows.nonEmpty)
    for ((_, frs) <- rows) {
      assert(frs.nonEmpty && frs.forall(_.contains("<em>zanzibar</em>")), s"fragments: $frs")
    }
  }

  test("searchMany (batched) ≡ per-query search for the whole query set") {
    val batched = searcher.searchMany(queries, 10)
    for (q <- queries)
      assert(batched(q).toSeq == searcher.search(q, 10).toSeq, s"batched mismatch for '$q'")
  }

  test("driver-local serving path (warm) ≡ distributed path for all queries") {
    built
    val warm = new Searcher(spark, indexDir, cfg.numShards).warm()
    for (q <- queries) {
      assert(warm.search(q, 10).toSeq == searcher.search(q, 10).toSeq, s"local OR '$q'")
      assert(warm.searchConjunctive(q, 10).toSeq == searcher.searchConjunctive(q, 10).toSeq,
        s"local AND '$q'")
    }
    val batched = warm.searchMany(queries, 10)
    for (q <- queries)
      assert(batched(q).toSeq == searcher.search(q, 10).toSeq, s"local batched '$q'")
  }

  test("marker phrase hits resolve to the planted turns with text equality") {
    val res = searcher.searchResolved("zanzibar quasar lattice", 10)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
    val hitKeys = res.map(r => (r._1, r._2)).toSet
    assert(hitKeys.contains(("conv-00000003", 1)) && hitKeys.contains(("conv-00000017", 0)))
    res.foreach { case (c, t, text) =>
      val conv = c.stripPrefix("conv-").toLong
      assert(text == Transcripts.turnFor(conv, t).text)
    }
  }

  test("DirectPartition fast probe hash ≡ Catalyst Murmur3Hash eval") {
    // inverseHashKeys probes with Murmur3_x86_32.hashInt directly (the
    // round-2 interpreted-expression probe was a driver stall at high
    // partition counts); pin it against the expression it must invert
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    for (n <- Seq(7, 32, 1000); k <- 0 until 50) {
      val interp = Pmod(new Murmur3Hash(Seq(Literal(k))), Literal(n))
        .eval(null).asInstanceOf[Int]
      val fast = java.lang.Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42), n)
      assert(interp == fast, s"n=$n k=$k")
    }
    val keys = graft.index.DirectPartition.inverseHashKeys(257)
    keys.zipWithIndex.foreach { case (k, p) =>
      assert(java.lang.Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42), 257) == p)
    }
  }

  test("blocks-phase translate map ≡ join path: stores content-identical (round-9)") {
    // one corpus, two builds per positions setting: default (vocab under
    // the gate ⇒ broadcast translate map resolves termId/df
    // inside the tokenize closure) vs a 0-byte translate budget (the
    // string join, also the over-gate fallback at 10^12-scale
    // vocabularies). Every posting generator is exercised: main text +
    // keyword (role) + numeric trie (turn_idx) + extra analyzed text
    // (tool, incl. nulls), with and without positions. The two paths
    // must yield the SAME posting rows into the same routing, so dict
    // and decoded blocks must be content-identical.
    val turns = DocIds.dedup(Transcripts.generate(spark, 150L))
    val docs = DocIds.assign(turns, 4)
    def dictRows(d: String) = spark.read.parquet(s"$d/dict")
      .select("term", "termId", "shard", "df", "cf")
      .as[(String, Long, Int, Long, Long)].collect().sortBy(_._1).toSeq
    def blockRows(d: String) = spark.read.parquet(s"$d/blocks")
      .as[graft.model.PostingBlock].collect()
      .sortBy(b => (b.termId, b.bucket, b.blockId))
      .map(b => (b.termId, b.shard, b.bucket, b.blockId, b.firstDocId, b.lastDocId,
        b.count, b.docs.toSeq, b.tfs.toSeq, b.dls.toSeq, b.poss.toSeq))
      .toSeq
    for (withPos <- Seq(true, false)) {
      val base = IndexConfig(numBuckets = 2, numShards = 8, blockSize = 32, partitions = 4,
        storePositions = withPos, fieldCols = Seq("role"), numericFieldCols = Seq("turn_idx"),
        textFieldCols = Seq("tool"))
      val dirT = s"${TestSpark.tmpRoot}/index-translate-$withPos"
      val dirJ = s"${TestSpark.tmpRoot}/index-joinpath-$withPos"
      new IndexBuilder(spark, dirT, "snap-tr", base).build(docs)
      // a 0-byte translate budget: the block phase takes the join
      new IndexBuilder(spark, dirJ, "snap-tr", base) {
        override protected def translateBudget = 0L
      }.build(docs)
      assert(dictRows(dirT) == dictRows(dirJ), s"positions=$withPos")
      val blocks = blockRows(dirT)
      assert(blocks == blockRows(dirJ), s"positions=$withPos")
      assert(blocks.exists(_._11.nonEmpty) == withPos, s"positions=$withPos")
      val sT = new Searcher(spark, dirT, base.numShards)
      val sJ = new Searcher(spark, dirJ, base.numShards)
      assert(sT.search("the zanzibar", 10).toSeq == sJ.search("the zanzibar", 10).toSeq)
    }
  }

  test("translate gate: the map's estimated footprint against the heap budget") {
    import IndexBuilder.{TranslateEntryBytes, translateFits}
    val (vocab, termBytes) = (1000L, 9000L)
    val footprint = vocab * TranslateEntryBytes + termBytes
    assert(translateFits(vocab, termBytes, footprint))
    assert(!translateFits(vocab, termBytes, footprint - 1))
    assert(!translateFits(vocab + 1, termBytes, footprint))
    assert(translateFits(0L, 0L, 0L))
    // local mode: the default budget is a share of this one JVM's heap
    val budget = new IndexBuilder(spark, s"${TestSpark.tmpRoot}/unused", "s") {
      def exposed = translateBudget
    }.exposed
    assert(budget > 0 && budget == Runtime.getRuntime.maxMemory / IndexBuilder.TranslateHeapShare)
  }

  test("salted dictionary ≡ direct dictionary") {
    val b = new IndexBuilder(spark, indexDir, "snap-test-1", cfg)
    val postings = b.postingsOf(docsDF)
    val direct = b.dictDirect(postings).orderBy("term").as[(String, Long, Long)].collect()
    val salted = b.dictSalted(postings, 16).orderBy("term").as[(String, Long, Long)].collect()
    assert(direct.toSeq == salted.toSeq)
  }

  test("dedup keeps deterministic last-write-wins on dirty corpus") {
    val dirty = Transcripts.generateDirty(spark, 200L)
    val deduped = DocIds.dedup(dirty)
    val keys = deduped.select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(keys.length == keys.distinct.length)
    // conv 7 turn 0 was duplicated with a later ts and marked text
    val winner = deduped.filter($"conv_id" === "conv-00000007" && $"turn_idx" === 0)
      .select("text").as[String].head()
    assert(winner.endsWith("duplicated later write"))
    assert(deduped.count() == Transcripts.generate(spark, 200L).count())
  }

  private def hfs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  test("resume skips done cells; a cleared cell is rebuilt identically") {
    val dir2 = s"${TestSpark.tmpRoot}/index-resume"
    val turns = DocIds.dedup(Transcripts.generate(spark, 120L))
    val docs = DocIds.assign(turns, 4)
    val cfg2 = cfg.copy(numBuckets = 2)
    val r1 = new IndexBuilder(spark, dir2, "snap-r1", cfg2).build(docs)
    assert(r1.cellsBuilt.nonEmpty && r1.cellsSkipped.isEmpty)
    // semantic index identity: decoded postings
    def blockFingerprint() = spark.read.parquet(s"$dir2/blocks")
      .as[graft.model.PostingBlock].collect()
      .flatMap { b =>
        val d = graft.index.Codec.decodeBlock(b)
        d.docIds.indices.map(i => (b.termId, d.docIds(i), d.tfs(i), d.dls(i)))
      }
      .sortBy(t => (t._1, t._2)).toSeq
    val blocksBefore = blockFingerprint()

    // full re-run: everything skipped
    val r2 = new IndexBuilder(spark, dir2, "snap-r1", cfg2).build(docs)
    assert(r2.cellsBuilt.isEmpty && r2.cellsSkipped.size == r1.cellsBuilt.size)

    // clear one bucket cell → the block phase (all its bucket cells,
    // same snapshot) rebuilds, with identical decoded postings
    hfs.delete(new org.apache.hadoop.fs.Path(s"$dir2/manifest/bucket-1.props"), false)
    val r3 = new IndexBuilder(spark, dir2, "snap-r1", cfg2).build(docs)
    assert(r3.cellsBuilt == Seq("bucket=0", "bucket=1"), r3.toString)
    assert(blockFingerprint() == blocksBefore)

    // changed snapshot id ⇒ nothing is trusted, full rebuild
    val r4 = new IndexBuilder(spark, dir2, "snap-r2", cfg2).build(docs, resume = true)
    assert(r4.cellsBuilt.size == r1.cellsBuilt.size)
  }

  test("resume over cells of an older format fails loudly, before any write") {
    // a build interrupted under an older writer (its flag says v2, its
    // dictionary is the pre-finalize dict0 store) cannot be resumed:
    // the current block phase reads the dict the dictionary phase writes
    val dir = s"${TestSpark.tmpRoot}/stream-legacy-resume"
    val small = IndexConfig(numBuckets = 2, partitions = 4)
    StreamingIngest.appendSegment(spark, Transcripts.generate(spark, 30L), dir, 0L, small)
    val seg = s"$dir/seg-0"
    assert(hfs.rename(new org.apache.hadoop.fs.Path(s"$seg/dict"), new org.apache.hadoop.fs.Path(s"$seg/dict0")))
    for (b <- 0 until 2)
      hfs.delete(new org.apache.hadoop.fs.Path(s"$seg/manifest/bucket-$b.props"), false)
    stampFormat(seg, Some(2))
    assertRejectedEverywhere(dir, seg)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("a failing block phase throws the lineage error and clears its job label") {
    // dict0 from a small corpus, docs from a larger one (same snapshot,
    // resumed): the larger corpus has terms the dict0 never saw, so the
    // translate closure must throw its loud lineage error
    val dir = s"${TestSpark.tmpRoot}/index-foreign-dict0"
    val cfg2 = cfg.copy(numBuckets = 2)
    val small = DocIds.assign(DocIds.dedup(Transcripts.generate(spark, 40L)), 4)
    new IndexBuilder(spark, dir, "snap-x", cfg2).build(small)
    for (c <- Seq("docs", "bucket-0", "bucket-1"))
      hfs.delete(new org.apache.hadoop.fs.Path(s"$dir/manifest/$c.props"), false)
    val large = DocIds.assign(DocIds.dedup(Transcripts.generate(spark, 400L)), 4)
    val e = intercept[Exception](new IndexBuilder(spark, dir, "snap-x", cfg2).build(large))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("absent from the dict0 translate map")), msgs.mkString("\n"))
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("fused build resumes as a unit and dedupAndAssign ≡ dedup∘assign") {
    val dir3 = s"${TestSpark.tmpRoot}/index-fused"
    // several partitions' docs, so LWW runs across range partitions
    val dirty = Transcripts.generateDirty(spark, 1000L)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val fused = DocIds.dedupAndAssign(dirty, 4)
    val composed = DocIds.assign(DocIds.dedup(dirty), 4)
    assert(fused.orderBy("docId").collect().toSeq == composed.orderBy("docId").collect().toSeq)
    // the fielded entry point: same docIds and winners, and each winner
    // keeps the extra column of its own (LWW winner) row
    def rowHash = sha2(concat_ws("|", $"conv_id", $"turn_idx".cast("string"),
      $"ts".cast("string"), $"text"), 256)
    val framed = DocIds.dedupAndAssignFrame(dirty.toDF().withColumn("extra", rowHash), 4)
    assert(framed.columns.toSeq ==
      Seq("docId", "conv_id", "turn_idx", "role", "text", "tool", "ts", "extra", "dl"))
    assert(framed.drop("extra").as[graft.model.Doc].orderBy("docId").collect().toSeq ==
      fused.orderBy("docId").collect().toSeq)
    assert(framed.filter($"extra" =!= rowHash).count() == 0)
    assert(framed.filter($"text".endsWith("duplicated later write")).count() ==
      dirty.count() - fused.count())
    framed.unpersist(blocking = true)
    composed.unpersist(blocking = true)
    val b = new IndexBuilder(spark, dir3, "snap-f", cfg.copy(numBuckets = 2))
    val r1 = b.build(fused)
    assert(r1.cellsBuilt.count(_.startsWith("bucket=")) == 2)
    assert(cellKey(dir3, "docs", "parts").toInt >= 2)
    assert(parquetFiles(s"$dir3/docs") == cellKey(dir3, "docs", "parts").toInt)
    val r2 = new IndexBuilder(spark, dir3, "snap-f", cfg.copy(numBuckets = 2)).build(fused)
    assert(r2.cellsBuilt.isEmpty)
    // unpersisting the typed view frees the numbered frame it wraps
    fused.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    // fused index answers identically to the oracle
    val s = new Searcher(spark, dir3, cfg.numShards)
    val want = Oracle.topK(spark.read.parquet(s"$dir3/docs"), "the zanzibar", 10)
      .as[Scored].collect().toSeq
    assert(s.search("the zanzibar", 10).toSeq == want)
  }

  test("results are bucket-count-invariant (64-bucket build ≡ oracle)") {
    // the sizing rule (IndexConfig.sized) scales numBuckets with the
    // corpus; correctness must not depend on the chosen count
    val dirB = s"${TestSpark.tmpRoot}/index-manybuckets"
    new IndexBuilder(spark, dirB, "snap-b64",
      cfg.copy(numBuckets = 64)).build(docsDF.as[graft.model.Doc])
    val s = new Searcher(spark, dirB, cfg.numShards)
    for (q <- Seq("the zanzibar", "zanzibar quasar lattice", "t100 t2000 t30000")) {
      val want = Oracle.topK(docsDF, q, 10).as[Scored].collect().toSeq
      assert(s.search(q, 10).toSeq == want, s"64-bucket mismatch for '$q'")
    }
    val sized = IndexConfig.sized(nDocs = 1L << 34, cores = 1000)
    assert(sized.numBuckets == 1024) // 2^34 docs / 16M = 1024 buckets
    assert(IndexConfig.sized(100L, 8).numBuckets == 4) // small-corpus floor
  }

  test("manifest carries lineage and metrics") {
    built
    val ms = new IndexBuilder(spark, indexDir, "snap-test-1", cfg).allManifests
    val buckets = ms.filter(_.cell.startsWith("bucket="))
    assert(buckets.size == cfg.numBuckets)
    assert(buckets.forall(m => m.status == "done" && m.sourceSnapshotId == "snap-test-1"))
    assert(buckets.map(_.postingsEmitted).sum > 0)
    assert(buckets.map(_.bytesCompressed).sum > 0)
    // the recorded partition counts: the docs cell's data files, and the
    // block phase's docId slices per bucket
    assert(cellKey(indexDir, "docs", "parts").toInt == parquetFiles(s"$indexDir/docs"))
    for (b <- 0 until cfg.numBuckets) assert(cellKey(indexDir, s"bucket-$b", "parts") == "2")
    // contiguous, non-overlapping docId ranges covering [0, N)
    val sorted = buckets.sortBy(_.docIdLo)
    assert(sorted.head.docIdLo == 0)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.docIdHi == b.docIdLo)
      case _ =>
    }
    // every bucket cell's metrics are its blocks' sums, and together they
    // count the corpus postings the dict0 cell recorded
    assertCellsMatchBlocks(indexDir)
    assert(buckets.map(_.postingsEmitted).sum ==
      ms.find(_.cell == "dict0").get.postingsEmitted)
    // one compacted segment carries the same cells and schemas
    // (`maybeCompact`'s size-tiered selection reads bytesCompressed)
    val idx = s"${TestSpark.tmpRoot}/manifest-compacted"
    val small = IndexConfig(numBuckets = 2, partitions = 4)
    val all = Transcripts.generate(spark, 40L)
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" < "conv-00000020"), idx, 0L, small)
    StreamingIngest.appendSegment(spark, all.filter($"conv_id" >= "conv-00000020"), idx, 1L, small)
    Compaction.compactInPlace(spark, idx)
    val live = SegmentCatalog.liveSegments(spark, idx)
    assert(live.size == 1)
    assertCellsMatchBlocks(live.head)
    // wall times print at a fixed width (same-corpus builds write equal
    // manifest bytes) and read back
    val wDir = s"${TestSpark.tmpRoot}/manifest-width"
    val w = new IndexBuilder(spark, wDir, "snap-w", IndexConfig())
    val wFs = new org.apache.hadoop.fs.Path(wDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def written(wall: Double): (Long, Double) = {
      w.writeManifest(graft.model.BuildManifest("docs", -1, 0, 10, "snap-w", 10, 0, "done", wall))
      (wFs.getFileStatus(new org.apache.hadoop.fs.Path(wDir, "manifest/docs.props")).getLen,
        w.readManifest("docs").get.wallSec)
    }
    val (lenA, wallA) = written(0.68137457975)
    val (lenB, wallB) = written(12.3)
    assert(lenA == lenB)
    assert(math.abs(wallA - 0.68137457975) < 1e-6, wallA)
    assert(math.abs(wallB - 12.3) < 1e-6, wallB)
  }

  /** `dir`'s bucket cells hold the per-bucket Σ count and Σ payload bytes
    * of its blocks; neither the blocks nor the dict store a score bound,
    * and no term-partials dir exists.
    */
  private def assertCellsMatchBlocks(dir: String): Unit = {
    val blocks = spark.read.parquet(s"$dir/blocks")
    val fromBlocks = blocks.groupBy("bucket")
      .agg(sum("count"), sum(length($"docs") + length($"tfs") + length($"dls") + length($"poss")))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val cells = new IndexBuilder(spark, dir, "", IndexConfig()).allManifests
      .filter(_.cell.startsWith("bucket="))
    assert(cells.nonEmpty, dir)
    for (m <- cells)
      assert((m.postingsEmitted, m.bytesCompressed) == fromBlocks.getOrElse(m.bucket, (0L, 0L)),
        s"$dir ${m.cell}")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/termpartials")), dir)
    for (cols <- Seq(blocks.columns, spark.read.parquet(s"$dir/dict").columns))
      assert(!cols.exists(Set("maxTf", "maxScore")), s"$dir: ${cols.mkString(",")}")
  }

  test("compression is effective (< 6 B/posting with positions, < 4 without)") {
    built
    val ms = new IndexBuilder(spark, indexDir, "snap-test-1", cfg).allManifests
    val buckets = ms.filter(_.cell.startsWith("bucket="))
    def bpp(b: Seq[graft.model.BuildManifest]) =
      b.map(_.bytesCompressed).sum.toDouble / b.map(_.postingsEmitted).sum
    assert(bpp(buckets) < 6.0, s"bytes per posting = ${bpp(buckets)}")
    // a positions-off build keeps the round-1 budget
    val dirNp = s"${TestSpark.tmpRoot}/index-nopos"
    new IndexBuilder(spark, dirNp, "snap-np", cfg.copy(storePositions = false))
      .build(docsDF.as[graft.model.Doc])
    val msNp = new IndexBuilder(spark, dirNp, "snap-np", cfg).allManifests
      .filter(_.cell.startsWith("bucket="))
    assert(bpp(msNp) < 4.0, s"bytes per posting (no positions) = ${bpp(msNp)}")
  }
}
