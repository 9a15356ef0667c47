package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.corpus.Transcripts
import graft.index.{DocIds, FieldTerms, IndexBuilder, IndexConfig}
import graft.model.Scored
import graft.query.{BoolQuerySpec, Expansion, Oracle, Searcher}

/** Round-4 query surface: should / minimum_should_match, tiered numeric
  * range filters, pagination (from + search_after), histogram/stats
  * aggregations — each pinned rank-identical (docIds AND scores) to a
  * semi-join construction over the exhaustive oracle, on both the
  * single-index and the cross-segment searcher.
  */
class QuerySurfaceSpec extends SparkSpec {
  import spark.implicits._

  private val nConvs = 300L
  private lazy val indexDir = s"${TestSpark.tmpRoot}/index-surface"
  private lazy val cfg = IndexConfig(numBuckets = 2, numShards = 8, blockSize = 32,
    partitions = 8, fieldCols = Seq("role", "tool"), numericFieldCols = Seq("dl"))

  private lazy val built: graft.index.BuildReport = {
    val docs = DocIds.assign(DocIds.dedup(Transcripts.generate(spark, nConvs)), 8)
    new IndexBuilder(spark, indexDir, "snap-surface-1", cfg).build(docs)
  }
  private lazy val searcher = { built; new Searcher(spark, indexDir, cfg.numShards) }
  private lazy val warmed = {
    built
    new Searcher(spark, indexDir, cfg.numShards).warm(maxLocalBlockBytes = 1L << 30)
  }
  private lazy val docsDF = { built; spark.read.parquet(s"$indexDir/docs") }

  /** (docId, term) distinct pairs — the membership oracle's raw table. */
  private lazy val tok = docsDF
    .select(col("docId"), explode(array_distinct(Analyzer.tokensCol(col("text")))).as("term"))
    .cache()

  /** Oracle for bool must/should: rank ALL docs by the merged term set
    * (score = BM25 sum over matched terms, the engine's rule), then keep
    * docs matching the must group (≥1, or all when mustAll) and ≥
    * minShould should terms.
    */
  private def boolWant(mustTerms: Seq[String], shouldTerms: Seq[String],
      minShould: Int, mustAll: Boolean, k: Int = 10): Seq[Scored] = {
    var ranked = Oracle.topK(docsDF, (mustTerms ++ shouldTerms).mkString(" "), Int.MaxValue)
    if (mustTerms.nonEmpty) {
      val nm = tok.filter(col("term").isin(mustTerms: _*))
        .groupBy(col("docId")).agg(countDistinct(col("term")).as("nm"))
        .filter(if (mustAll) col("nm") === lit(mustTerms.size) else col("nm") >= lit(1))
        .select("docId")
      ranked = ranked.join(nm, Seq("docId"), "left_semi")
    }
    if (minShould > 0) {
      val ns = tok.filter(col("term").isin(shouldTerms: _*))
        .groupBy(col("docId")).agg(countDistinct(col("term")).as("ns"))
        .filter(col("ns") >= lit(minShould)).select("docId")
      ranked = ranked.join(ns, Seq("docId"), "left_semi")
    }
    ranked.orderBy(col("score").desc, col("docId").asc).limit(k)
      .as[Scored].collect().toSeq
  }

  test("should clauses add score to an OR must group; minimum_should_match gates") {
    for (m <- 0 to 2) {
      val want = boolWant(Seq("zanzibar"), Seq("the", "quasar"), m, mustAll = false)
      val got = searcher.searchBool("zanzibar", 10, should = "the quasar", minShouldMatch = m)
      assert(got.toSeq == want, s"must-OR + should, m=$m:\n got=${got.toSeq}\n want=$want")
      val gotWarm = warmed.searchBool("zanzibar", 10, should = "the quasar", minShouldMatch = m)
      assert(gotWarm.toSeq == want, s"warm path differs at m=$m")
    }
    // should matches must actually CHANGE the ranking vs the bare must
    assert(searcher.searchBool("zanzibar", 10, should = "the quasar").toSeq
      != searcher.search("zanzibar", 10).toSeq)
  }

  test("pure should group: m-of-n matching") {
    val terms = Seq("t10", "t11", "t12", "t13")
    for (m <- 1 to 3) {
      val want = boolWant(Nil, terms, m, mustAll = false)
      val got = searcher.searchBool("", 10, should = terms.mkString(" "), minShouldMatch = m)
      assert(got.toSeq == want, s"pure should m=$m:\n got=${got.toSeq}\n want=$want")
    }
    // m=1 over a pure should group ≡ the plain OR query
    assert(searcher.searchBool("", 10, should = terms.mkString(" "), minShouldMatch = 1).toSeq
      == searcher.search(terms.mkString(" "), 10).toSeq)
    // m > matchable terms → empty
    assert(searcher.searchBool("", 10, should = "zanzibar quasar", minShouldMatch = 3).isEmpty)
  }

  test("conjunctive must + should clauses") {
    for (m <- 0 to 1) {
      val want = boolWant(Seq("the", "a"), Seq("zanzibar", "t10"), m, mustAll = true)
      val got = searcher.searchBool("the a", 10, conjunctive = true,
        should = "zanzibar t10", minShouldMatch = m)
      assert(got.toSeq == want, s"AND must + should, m=$m:\n got=${got.toSeq}\n want=$want")
      val gotWarm = warmed.searchBool("the a", 10, conjunctive = true,
        should = "zanzibar t10", minShouldMatch = m)
      assert(gotWarm.toSeq == want, s"warm AND+should differs at m=$m")
    }
  }

  test("trieRangeTerms: exact disjoint cover of any range (unit)") {
    val rng = new scala.util.Random(7)
    val ranges = Seq((0L, 0L), (1L, 16L), (15L, 17L), (0L, 255L), (17L, 4099L)) ++
      (1 to 20).map { _ =>
        val a = rng.nextInt(5000).toLong
        val b = a + rng.nextInt(3000)
        (a, b)
      }
    for ((lo, hi) <- ranges) {
      val terms = FieldTerms.trieRangeTerms("f", lo, hi).toSet
      assert(terms.size <= 512, s"[$lo,$hi] expanded to ${terms.size} terms")
      for (v <- math.max(0, lo - 40) to (hi + 40)) {
        val carried = FieldTerms.numericValueTerms("f", v).toSet
        val inter = carried.intersect(terms)
        if (v >= lo && v <= hi)
          assert(inter.size == 1, s"value $v in [$lo,$hi] carried ${inter.size} range cells")
        else
          assert(inter.isEmpty, s"value $v outside [$lo,$hi] matched $inter")
      }
    }
  }

  test("numeric trie range filter ≡ doc-predicate oracle; bounded expansion") {
    val dlStats = docsDF.agg(min(col("dl")), max(col("dl"))).head()
    val lo = dlStats.getInt(0) + 3L
    val hi = dlStats.getInt(1) - 5L
    assert(lo < hi)
    for ((a, b) <- Seq((lo, hi), (lo, lo + 7), (0L, hi), (hi - 1, hi + 1000))) {
      val want = Oracle.topK(docsDF, "the", Int.MaxValue)
        .join(docsDF.filter(col("dl") >= lit(a) && col("dl") <= lit(b)).select("docId"),
          Seq("docId"), "left_semi")
        .orderBy(col("score").desc, col("docId").asc).limit(10)
        .as[Scored].collect().toSeq
      val got = searcher.searchBool("the", 10, numericRangeFilters = Seq(("dl", a, b)))
      assert(got.toSeq == want, s"trie range [$a,$b]:\n got=${got.toSeq}\n want=$want")
      val gotWarm = warmed.searchBool("the", 10, numericRangeFilters = Seq(("dl", a, b)))
      assert(gotWarm.toSeq == want, s"warm trie range [$a,$b]")
    }
    // the clause is BOUNDED regardless of value cardinality — never one
    // term per distinct value (the round-3 scale defect this replaces)
    assert(FieldTerms.trieRangeTerms("dl", 0L, Long.MaxValue / 2).size <= 512)
    // empty range ⇒ no hits
    assert(searcher.searchBool("the", 10,
      numericRangeFilters = Seq(("dl", 1000000L, 2000000L))).isEmpty)
  }

  test("pagination: from-pages tile the ranking; search_after continues exactly") {
    val full = Oracle.topK(docsDF, "the", 30).as[Scored].collect().toSeq
    val pages = (0 until 3).map(p => searcher.search("the", 10, from = p * 10).toSeq)
    assert(pages.flatten == full)
    val warmPages = (0 until 3).map(p => warmed.search("the", 10, from = p * 10).toSeq)
    assert(warmPages.flatten == full)
    // search_after: cursor continuation reproduces the same pages
    val afterP1 = searcher.searchAfter("the", 10, pages(0).last).toSeq
    assert(afterP1 == pages(1))
    val afterP2 = searcher.searchAfter("the", 10, afterP1.last).toSeq
    assert(afterP2 == pages(2))
    val warmAfter = warmed.searchAfter("the", 10, pages(0).last).toSeq
    assert(warmAfter == pages(1))
    // from beyond the match set → empty
    val total = searcher.matchCount("zanzibar").toInt
    assert(searcher.search("zanzibar", 10, from = total).isEmpty)
    // field-sort pagination tiles the field ordering too
    val sortAll = searcher.searchSortedBy("the", "dl", 20).as[(Long, Int)].collect().toSeq
    val sortP2 = searcher.searchSortedBy("the", "dl", 10, from = 10).as[(Long, Int)].collect().toSeq
    assert(sortAll.drop(10) == sortP2 && sortP2.nonEmpty)
    // bool pagination composes with filters
    val boolFull = searcher.searchBool("the", 20, filters = Seq("role" -> "user")).toSeq
    val boolP2 = searcher.searchBool("the", 10, filters = Seq("role" -> "user"), from = 10).toSeq
    assert(boolFull.drop(10) == boolP2)
  }

  test("histogram and stats aggregations match direct computation") {
    val terms = Analyzer.analyzeQuery("the zanzibar").toSeq
    val matching = docsDF
      .join(tok.filter(col("term").isin(terms: _*)).select("docId").distinct(), Seq("docId"))
    // numeric histogram on dl, width 20
    val wantHist = matching
      .groupBy((floor(col("dl") / lit(20)) * lit(20)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs")).orderBy(col("bucket"))
      .as[(Long, Long)].collect().toSeq
    val gotHist = searcher.numericHistogram("the zanzibar", "dl", 20)
      .as[(Long, Long)].collect().toSeq
    assert(gotHist == wantHist && gotHist.nonEmpty)
    // date histogram on ts, hourly
    val wantDate = matching
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n_docs")).orderBy(col("bucket"))
      .as[(java.sql.Timestamp, Long)].collect().toSeq
    val gotDate = searcher.dateHistogram("the zanzibar", "ts", "hour")
      .as[(java.sql.Timestamp, Long)].collect().toSeq
    assert(gotDate == wantDate && gotDate.nonEmpty)
    // stats on dl
    val wantStats = matching.agg(count(lit(1)).cast("long"), min(col("dl")),
      max(col("dl")), avg(col("dl")), sum(col("dl"))).head()
    val gotStats = searcher.fieldStats("the zanzibar", "dl").head()
    assert(gotStats.getLong(0) == wantStats.getLong(0))
    assert(gotStats.getInt(1) == wantStats.getInt(1))
    assert(gotStats.getInt(2) == wantStats.getInt(2))
    assert(math.abs(gotStats.getDouble(3) - wantStats.getDouble(3)) < 1e-12)
    assert(gotStats.getLong(4) == wantStats.getLong(4))
    // no-term query → empty aggs with the right shape
    assert(searcher.numericHistogram("definitely-notavocab-word", "dl", 20).count() == 0)
    assert(searcher.fieldStats("definitely-notavocab-word", "dl").head().getLong(0) == 0L)
  }

  test("proximity slop: widens the exact-phrase hit set monotonically, warm ≡ distributed") {
    // 'the a' occurs adjacently AND at wider ordered gaps in the corpus;
    // k above corpus size so the sets are complete (no top-k truncation)
    val kAll = stats_n + 1
    val exact = searcher.searchPhrase("the a", kAll)
    val s1 = searcher.searchPhrase("the a", kAll, slop = 1)
    val s3 = searcher.searchPhrase("the a", kAll, slop = 3)
    assert(exact.nonEmpty)
    assert(exact.map(_.docId).toSet.subsetOf(s1.map(_.docId).toSet))
    assert(s1.map(_.docId).toSet.subsetOf(s3.map(_.docId).toSet))
    assert(s3.length > exact.length, "slop never widened the match set — inert parameter?")
    // scores are the conjunctive BM25 sum regardless of slop: a doc in
    // both result sets scores identically
    val exactScores = exact.map(s => s.docId -> s.score).toMap
    assert(s3.filter(s => exactScores.contains(s.docId))
      .forall(s => s.score == exactScores(s.docId)))
    // warm path identical
    assert(warmed.searchPhrase("the a", kAll, slop = 3).toSeq == s3.toSeq)
    // slop = 0 is exactly the adjacency path
    assert(searcher.searchPhrase("the a", kAll, slop = 0).toSeq == exact.toSeq)
  }

  private lazy val stats_n: Int = searcher.n.toInt

  test("bool-filtered aggregations run over the FILTERED match set (ES aggs semantics)") {
    val terms = Analyzer.analyzeQuery("the").toSeq
    val base = docsDF
      .join(tok.filter(col("term").isin(terms: _*)).select("docId").distinct(), Seq("docId"))
      .cache()
    // filter clause + numeric range clause
    val filtered = base.filter(col("role") === lit("user") &&
      col("dl") >= lit(30) && col("dl") <= lit(80))
    val wantFacet = filtered.groupBy(col("role").as("value"))
      .agg(count(lit(1)).as("n_docs")).orderBy(col("value"))
      .as[(String, Long)].collect().toSeq
    val gotFacet = searcher.facetCounts(BoolQuerySpec("the", filters = Seq("role" -> "user"),
      numericRangeFilters = Seq(("dl", 30L, 80L))), "role")
      .as[(String, Long)].collect().toSeq
    assert(gotFacet == wantFacet && gotFacet.nonEmpty)
    assert(searcher.matchCount(BoolQuerySpec("the", filters = Seq("role" -> "user"),
      numericRangeFilters = Seq(("dl", 30L, 80L))))
      == filtered.count())
    // must_not restricts the agg's population too
    val anti = base.filter(col("role") =!= lit("user"))
    val wantStats = anti.agg(count(lit(1)), min(col("dl")), max(col("dl"))).head()
    val gotStats = searcher.fieldStats(BoolQuerySpec("the", mustNot = Seq("role" -> "user")),
      "dl").head()
    assert(gotStats.getLong(0) == wantStats.getLong(0))
    assert(gotStats.getInt(1) == wantStats.getInt(1))
    assert(gotStats.getInt(2) == wantStats.getInt(2))
    // unknown filter value ⇒ empty aggs
    assert(searcher.matchCount(BoolQuerySpec("the", filters = Seq("role" -> "no-such"))) == 0L)
    assert(searcher.facetCounts(BoolQuerySpec("the", filters = Seq("role" -> "no-such")), "role")
      .count() == 0L)
    base.unpersist(blocking = false)
  }

  test("match-set ops take terms + lexicographic range clauses (round-6: aggs ≡ top-k surface)") {
    val terms = Analyzer.analyzeQuery("the").toSeq
    val base = docsDF
      .join(tok.filter(col("term").isin(terms: _*)).select("docId").distinct(), Seq("docId"))
      .cache()
    val any = Seq("role" -> Seq("user", "assistant"))
    val rng = Seq(("role", "a", "b")) // lexicographic: keeps 'assistant' only
    val filtered = base.filter(col("role").isin("user", "assistant") &&
      col("role") >= "a" && col("role") <= "b")
    assert(filtered.count() > 0)
    // facet
    val wantFacet = filtered.groupBy(col("role").as("value"))
      .agg(count(lit(1)).as("n_docs")).orderBy(col("value"))
      .as[(String, Long)].collect().toSeq
    val gotFacet = searcher.facetCounts(BoolQuerySpec("the", anyFilters = any,
      rangeFilters = rng), "role")
      .as[(String, Long)].collect().toSeq
    assert(gotFacet == wantFacet && gotFacet.nonEmpty, s"facet: $gotFacet vs $wantFacet")
    // count
    assert(searcher.matchCount(BoolQuerySpec("the", anyFilters = any, rangeFilters = rng))
      == filtered.count())
    // stats
    val wantStats = filtered.agg(count(lit(1)), min(col("dl")), max(col("dl"))).head()
    val gotStats = searcher.fieldStats(BoolQuerySpec("the", anyFilters = any, rangeFilters = rng),
      "dl").head()
    assert(gotStats.getLong(0) == wantStats.getLong(0))
    assert(gotStats.getInt(1) == wantStats.getInt(1))
    assert(gotStats.getInt(2) == wantStats.getInt(2))
    // histogram
    val wantHist = filtered
      .groupBy((floor(col("dl") / lit(20)) * lit(20)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs")).orderBy(col("bucket"))
      .as[(Long, Long)].collect().toSeq
    assert(searcher.numericHistogram(BoolQuerySpec("the", anyFilters = any, rangeFilters = rng),
      "dl", 20L)
      .as[(Long, Long)].collect().toSeq == wantHist)
    // field sort
    val wantSort = filtered.select(col("docId"), col("dl"))
      .orderBy(col("dl").desc, col("docId").asc).limit(5)
      .as[(Long, Int)].collect().toSeq
    assert(searcher.searchSortedBy(BoolQuerySpec("the", anyFilters = any, rangeFilters = rng),
      "dl", 5)
      .as[(Long, Int)].collect().toSeq == wantSort)
    // sub-aggregation
    val wantFS = filtered.groupBy(col("role").as("value"))
      .agg(count(lit(1)).as("n_docs"), min(col("dl")).as("min"), max(col("dl")).as("max"),
        avg(col("dl")).as("avg"), sum(col("dl")).as("sum"))
      .orderBy(col("value")).collect().toSeq
    assert(searcher.facetStats(BoolQuerySpec("the", anyFilters = any, rangeFilters = rng),
      "role", "dl")
      .collect().toSeq == wantFS)
    // an unsatisfiable range clause empties every op
    assert(searcher.matchCount(BoolQuerySpec("the",
      rangeFilters = Seq(("role", "zz", "zzz")))) == 0L)
    assert(searcher.facetCounts(BoolQuerySpec("the", rangeFilters = Seq(("role", "zz", "zzz"))),
      "role").count() == 0L)
    base.unpersist(blocking = false)
  }

  test("searchManyBool: heterogeneous batch in one job ≡ standalone calls (warm + distributed)") {
    val specs = Seq(
      BoolQuerySpec("the zanzibar"),
      BoolQuerySpec("the a", conjunctive = true),
      BoolQuerySpec("the a", phrase = true, phraseSlop = 2),
      BoolQuerySpec("the", filters = Seq("role" -> "user"),
        numericRangeFilters = Seq(("dl", 30L, 80L))),
      BoolQuerySpec("zanzibar", should = "the quasar", minShouldMatch = 1),
      BoolQuerySpec("", should = "t10 t11 t12 t13", minShouldMatch = 2),
      BoolQuerySpec("the", mustNot = Seq("role" -> "user")),
      BoolQuerySpec("definitely-notavocab-word"), // → empty slot
      BoolQuerySpec("the", filters = Seq("role" -> "no-such-value")) // → empty slot
    )
    def standalone(s: Searcher): Seq[Seq[graft.model.Scored]] = Seq(
      s.search("the zanzibar", 10).toSeq,
      s.searchConjunctive("the a", 10).toSeq,
      s.searchPhrase("the a", 10, slop = 2).toSeq,
      s.searchBool("the", 10, filters = Seq("role" -> "user"),
        numericRangeFilters = Seq(("dl", 30L, 80L))).toSeq,
      s.searchBool("zanzibar", 10, should = "the quasar", minShouldMatch = 1).toSeq,
      s.searchBool("", 10, should = "t10 t11 t12 t13", minShouldMatch = 2).toSeq,
      s.searchBool("the", 10, mustNot = Seq("role" -> "user")).toSeq,
      Seq.empty, Seq.empty)
    val wantCold = standalone(searcher)
    val gotCold = searcher.searchManyBool(specs, 10).map(_.toSeq)
    assert(gotCold == wantCold, "distributed batch differs from standalone")
    // the pure-should m=2 slot (index 5) may be legitimately empty at
    // this corpus size; every other non-sentinel slot must produce hits
    assert(Seq(0, 1, 2, 3, 4, 6).forall(i => gotCold(i).nonEmpty))
    val gotWarm = warmed.searchManyBool(specs, 10).map(_.toSeq)
    assert(gotWarm == wantCold, "warm batch differs from standalone")
  }

  test("round-5 surface: field-sort search_after, sub-aggregations, batched range filters") {
    // field-sort search_after: (fieldValue, docId) cursor pages ≡ the
    // contiguous from-pages, ascending AND descending
    for (desc <- Seq(true, false)) {
      val pages = (0 until 3).map(p => searcher.searchSortedBy("the", "dl", 10,
        descending = desc, from = p * 10).as[(Long, Int)].collect().toSeq)
      assert(pages.forall(_.nonEmpty))
      val c1 = pages(0).last
      val after2 = searcher.searchSortedBy("the", "dl", 10, descending = desc,
        after = Some((c1._2, c1._1))).as[(Long, Int)].collect().toSeq
      assert(after2 == pages(1), s"desc=$desc cursor page 2")
      val c2 = after2.last
      val after3 = searcher.searchSortedBy("the", "dl", 10, descending = desc,
        after = Some((c2._2, c2._1))).as[(Long, Int)].collect().toSeq
      assert(after3 == pages(2), s"desc=$desc cursor page 3")
    }
    // sub-aggregation (terms bucket → stats per bucket) ≡ direct groupBy
    val terms = Analyzer.analyzeQuery("the").toSeq
    val matching = docsDF
      .join(tok.filter(col("term").isin(terms: _*)).select("docId").distinct(), Seq("docId"))
    val want = matching.groupBy(col("role").as("value"))
      .agg(count(lit(1)).as("n_docs"), min(col("dl")).as("min"), max(col("dl")).as("max"),
        avg(col("dl")).as("avg"), sum(col("dl")).as("sum"))
      .orderBy(col("value"))
      .as[(String, Long, Int, Int, Double, Long)].collect().toSeq
    val got = searcher.facetStats("the", "role", "dl")
      .as[(String, Long, Int, Int, Double, Long)].collect().toSeq
    assert(got == want && got.size == 3)
    // filtered sub-aggregation runs over the FILTERED match set
    val gotF = searcher.facetStats(BoolQuerySpec("the",
      numericRangeFilters = Seq(("dl", 30L, 80L))), "role", "dl")
      .as[(String, Long, Int, Int, Double, Long)].collect().toSeq
    val wantF = matching.filter(col("dl") >= lit(30) && col("dl") <= lit(80))
      .groupBy(col("role").as("value"))
      .agg(count(lit(1)).as("n_docs"), min(col("dl")).as("min"), max(col("dl")).as("max"),
        avg(col("dl")).as("avg"), sum(col("dl")).as("sum"))
      .orderBy(col("value"))
      .as[(String, Long, Int, Int, Double, Long)].collect().toSeq
    assert(gotF == wantF && gotF.nonEmpty)
    // batched lexicographic rangeFilters ≡ standalone (one expansion job)
    val specs = Seq(
      BoolQuerySpec("the", rangeFilters = Seq(("role", "a", "u"))),
      BoolQuerySpec("the zanzibar"),
      BoolQuerySpec("the", rangeFilters = Seq(("role", "zz", "zzz")))) // empty range
    val wantBatch = Seq(
      searcher.searchBool("the", 10, rangeFilters = Seq(("role", "a", "u"))).toSeq,
      searcher.search("the zanzibar", 10).toSeq,
      Seq.empty[Scored])
    assert(searcher.searchManyBool(specs, 10).map(_.toSeq) == wantBatch)
    assert(wantBatch(0).nonEmpty)
    assert(warmed.searchManyBool(specs, 10).map(_.toSeq) == wantBatch)
  }

  test("round-6 surface: exists/missing clauses, cardinality, percentiles, top_hits") {
    // --- exists / missing on the WAND path ≡ oracle semi/anti-join ---
    // `tool` is populated only on tool-role turns (a genuinely partial
    // field), indexed via fieldCols ⇒ its `#tool!` exists marker
    val ranked = Oracle.topK(docsDF, "the", Int.MaxValue)
    val wantExists = ranked.join(docsDF.filter(col("tool").isNotNull).select("docId"),
        Seq("docId"), "left_semi")
      .orderBy(col("score").desc, col("docId").asc).limit(10).as[Scored].collect().toSeq
    val wantMissing = ranked.join(docsDF.filter(col("tool").isNotNull).select("docId"),
        Seq("docId"), "left_anti")
      .orderBy(col("score").desc, col("docId").asc).limit(10).as[Scored].collect().toSeq
    val gotExists = searcher.searchBool("the", 10, exists = Seq("tool"))
    val gotMissing = searcher.searchBool("the", 10, missing = Seq("tool"))
    assert(gotExists.toSeq == wantExists && gotExists.nonEmpty)
    assert(gotMissing.toSeq == wantMissing && gotMissing.nonEmpty)
    // exists and missing partition the ranking's doc set
    assert(gotExists.map(_.docId).toSet.intersect(gotMissing.map(_.docId).toSet).isEmpty)
    // warm path parity
    assert(warmed.searchBool("the", 10, exists = Seq("tool")).toSeq == wantExists)
    assert(warmed.searchBool("the", 10, missing = Seq("tool")).toSeq == wantMissing)
    // batch spec carries the clauses too
    assert(searcher.searchManyBool(Seq(BoolQuerySpec("the", exists = Seq("tool")),
        BoolQuerySpec("the", missing = Seq("tool"))), 10).map(_.toSeq)
      == Seq(wantExists, wantMissing))
    // exists on an unindexed/absent field matches nothing; missing on it
    // excludes nothing
    assert(searcher.searchBool("the", 10, exists = Seq("nosuchfield")).isEmpty)
    assert(searcher.searchBool("the", 10, missing = Seq("nosuchfield")).toSeq
      == searcher.search("the", 10).toSeq)

    // --- match-set ops take the clauses ---
    val terms = Analyzer.analyzeQuery("the").toSeq
    val matching = docsDF
      .join(tok.filter(col("term").isin(terms: _*)).select("docId").distinct(), Seq("docId"))
      .cache()
    val withTool = matching.filter(col("tool").isNotNull)
    assert(searcher.matchCount(BoolQuerySpec("the", exists = Seq("tool"))) == withTool.count())
    assert(searcher.matchCount(BoolQuerySpec("the", missing = Seq("tool")))
      == matching.filter(col("tool").isNull).count())
    assert(searcher.facetCounts(BoolQuerySpec("the", exists = Seq("tool")), "role")
        .as[(String, Long)].collect().toSeq
      == withTool.groupBy(col("role").as("value")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("value")).as[(String, Long)].collect().toSeq)

    // --- cardinality: exact ≡ direct countDistinct; HLL sanity ---
    val wantCard = matching.agg(countDistinct(col("tool"))).head().getLong(0)
    assert(searcher.cardinality("the", "tool") == wantCard && wantCard > 0)
    assert(searcher.cardinality("the", "role") == 3L)
    val approx = searcher.cardinality("the", "role", approximate = true)
    assert(approx >= 2L && approx <= 4L) // HLL++ estimate of 3 distinct
    assert(searcher.cardinality("nosuchterm", "role") == 0L)

    // --- percentiles: hand-computed closest-ranks interpolation ---
    val vals = matching.select(col("dl").cast("double")).as[Double].collect().sorted
    def pctl(p: Double): Double = {
      val idx = p * (vals.length - 1)
      val lo = math.floor(idx).toInt
      val hi = math.ceil(idx).toInt
      vals(lo) + (idx - lo) * (vals(hi) - vals(lo))
    }
    val ps = Seq(0.25, 0.5, 0.9)
    val gotP = searcher.percentiles("the", "dl", ps).as[(Double, Double)].collect().toSeq
    assert(gotP.map(_._1) == ps)
    for (((p, v), i) <- gotP.zipWithIndex)
      assert(math.abs(v - pctl(ps(i))) < 1e-9, s"p=$p got $v want ${pctl(ps(i))}")
    // approximate variant: within the sketch's rank tolerance (sanity)
    val gotPA = searcher.percentiles("the", "dl", Seq(0.5), approximate = true)
      .as[(Double, Double)].collect().head._2
    assert(gotPA >= vals.head && gotPA <= vals.last)

    // --- terms agg size: top buckets by count desc (ES default order) ---
    val wantTop = matching.groupBy(col("role").as("value"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("value").asc).limit(2)
      .as[(String, Long)].collect().toSeq
    assert(searcher.facetCounts("the", "role", size = 2)
      .as[(String, Long)].collect().toSeq == wantTop && wantTop.size == 2)

    // --- range agg: half-open buckets, one pass, overlap allowed ---
    val nAll = matching.count()
    val nLt50 = matching.filter(col("dl") < 50).count()
    val n30to80 = matching.filter(col("dl") >= 30 && col("dl") < 80).count()
    val nGe80 = matching.filter(col("dl") >= 80).count()
    val gotR = searcher.rangesAgg("the", "dl",
      Seq((None, Some(50L)), (Some(30L), Some(80L)), (Some(80L), None), (None, None)))
      .as[(String, Long)].collect().toSeq
    assert(gotR == Seq("*-50" -> nLt50, "30-80" -> n30to80, "80-*" -> nGe80,
      "*-*" -> nAll))
    assert(gotR.map(_._2).sum > nAll) // the overlap really double-counts

    // --- filters agg: named keyword buckets, one pass, overlap allowed ---
    val nUser = matching.filter(col("role") === "user").count()
    val nTool = matching.filter(col("role") === "tool").count()
    val gotF = searcher.filtersAgg("the", Seq(
      "users" -> ("role", "user"), "tools" -> ("role", "tool"),
      "users2" -> ("role", "user")))
      .as[(String, Long)].collect().toSeq
    assert(gotF == Seq("users" -> nUser, "tools" -> nTool, "users2" -> nUser))
    assert(nUser > 0 && nTool > 0)

    // --- top_hits: per-bucket top-k ≡ direct window computation ---
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("role")).orderBy(col("dl").desc, col("docId").asc)
    val wantTH = matching.select(col("role").as("value"), col("docId").as("doc_id"),
        col("dl").cast("long").as("sort_value"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("value"))
          .orderBy(col("sort_value").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("value"), col("rank"), col("doc_id"), col("sort_value"))
      .orderBy(col("value"), col("rank"))
      .as[(String, Long, Long, Long)].collect().toSeq
    val gotTH = searcher.facetTopHits("the", "role", "dl", 3)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(gotTH == wantTH && gotTH.size == 9)
    // the rank ≤ k filter must plan as a pre-shuffle window group limit
    // (the per-shard-heap shape — a hot bucket never sorts more than k
    // rows per upstream partition before the exchange)
    val plan = searcher.facetTopHits("the", "role", "dl", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
    matching.unpersist(blocking = false)
  }

  test("match_phrase_prefix: capped expansion slot ≡ oracle semi-join (cold + warm)") {
    // engine rewrite replicated: distinct dictionary terms starting with
    // the prefix, term-asc, first 50 — then membership = fixed token
    // adjacent to ANY expansion; score = the fixed terms' BM25 sum
    val exp = tok.select("term").distinct().as[String].collect()
      .filter(_.startsWith("t1")).sorted.take(50).toSet
    assert(exp.size == 50) // the cap must actually engage (vocab has >50 t1*)
    val texts = docsDF.select(col("docId"), col("text")).as[(Long, String)].collect()
    val memberDocs = texts.filter { case (_, txt) =>
      val ts = Analyzer.tokenize(txt)
      (0 until ts.length - 1).exists(i => ts(i) == "the" && exp.contains(ts(i + 1)))
    }.map(_._1).toSeq
    assert(memberDocs.nonEmpty)
    val want = Oracle.topK(docsDF, "the", Int.MaxValue)
      .join(memberDocs.toDF("docId"), Seq("docId"), "left_semi")
      .orderBy(col("score").desc, col("docId").asc).limit(10).as[Scored].collect().toSeq
    val got = searcher.searchPhrasePrefix("the t1", 10)
    assert(got.toSeq == want && got.nonEmpty)
    assert(warmed.searchPhrasePrefix("the t1", 10).toSeq == want)
    // pure-prefix (no fixed tokens): membership-only, score 0, docId asc
    val pure = searcher.searchPhrasePrefix("t1", 5)
    assert(pure.length == 5 && pure.forall(_.score == 0.0))
    assert(pure.map(_.docId).toSeq == pure.map(_.docId).sorted.toSeq)
    // unmatchable prefix ⇒ empty
    assert(searcher.searchPhrasePrefix("the zzzz", 10).isEmpty)
  }

  test("match_phrase_prefix: expansion set containing a FIXED phrase term (round-6 advice)") {
    // 'the' startsWith 'th' — the last-slot expansion set contains the
    // fixed phrase term, which must KEEP its scored iterator (the union
    // slot builds its own fresh member cursors); this used to throw
    // inside the Spark task ("phrase terms must each have an iterator")
    val exp = tok.select("term").distinct().as[String].collect()
      .filter(_.startsWith("th")).sorted.take(50).toSet
    assert(exp.contains("the"), s"expansion $exp must contain the fixed term")
    val texts = docsDF.select(col("docId"), col("text")).as[(Long, String)].collect()
    val memberDocs = texts.filter { case (_, txt) =>
      val ts = Analyzer.tokenize(txt)
      (0 until ts.length - 1).exists(i => ts(i) == "the" && exp.contains(ts(i + 1)))
    }.map(_._1).toSeq
    assert(memberDocs.nonEmpty)
    val want = Oracle.topK(docsDF, "the", Int.MaxValue)
      .join(memberDocs.toDF("docId"), Seq("docId"), "left_semi")
      .orderBy(col("score").desc, col("docId").asc).limit(10).as[Scored].collect().toSeq
    val got = searcher.searchPhrasePrefix("the th", 10)
    assert(got.toSeq == want && got.nonEmpty)
    assert(warmed.searchPhrasePrefix("the th", 10).toSeq == want)
  }

  test("a flag-less (pre-marker) segment fails loudly at every reader") {
    // a segment written before exists markers carries no format flag: an
    // exists/missing clause over it would silently invert its results,
    // so no reader opens it
    val dir = s"${TestSpark.tmpRoot}/index-legacy-exists"
    graft.streaming.StreamingIngest.appendSegment(spark, Transcripts.generate(spark, 20L), dir, 0L,
      cfg.copy(numBuckets = 1, partitions = 4))
    val seg = s"$dir/seg-0"
    assert(new Searcher(spark, seg, cfg.numShards)
      .searchBool("the", 5, exists = Seq("tool")).nonEmpty)
    stampFormat(seg, None)
    assertRejectedEverywhere(dir, seg)
  }

  test("query_string end-to-end: parsed specs ≡ structured calls; mustNotText ≡ oracle") {
    val schema = graft.query.QueryString.Schema(
      keywordFields = Set("role", "tool"), numericFields = Set("dl"))
    // -term excludes analyzed text: ≡ oracle anti-join on the term's docs
    val ranked = Oracle.topK(docsDF, "the", Int.MaxValue)
    val aDocs = tok.filter(col("term") === "a").select("docId").distinct()
    val want = ranked.join(aDocs, Seq("docId"), "left_anti")
      .orderBy(col("score").desc, col("docId").asc).limit(10).as[Scored].collect().toSeq
    val got = searcher.searchQueryString("the -a", 10, schema)
    assert(got.toSeq == want && got.nonEmpty)
    assert(got.toSeq != searcher.search("the", 10).toSeq) // the exclusion bites
    // parsed ≡ structured across representative queries, cold AND warm
    val cases: Seq[(String, Searcher => Seq[Scored])] = Seq(
      ("the zanzibar", s => s.search("the zanzibar", 10).toSeq),
      ("the AND a", s => s.searchConjunctive("the a", 10).toSeq),
      ("\"the a\"~2", s => s.searchPhrase("the a", 10, slop = 2).toSeq),
      ("+zanzibar the quasar",
        s => s.searchBool("zanzibar", 10, should = "the quasar").toSeq),
      ("the role:user dl:[30 TO 80]",
        s => s.searchBool("the", 10, filters = Seq("role" -> "user"),
          numericRangeFilters = Seq(("dl", 30L, 80L))).toSeq),
      ("the -role:user _exists_:tool",
        s => s.searchBool("the", 10, mustNot = Seq("role" -> "user"),
          exists = Seq("tool")).toSeq))
    for ((q, structured) <- cases; s <- Seq(searcher, warmed)) {
      val parsed = s.searchQueryString(q, 10, schema).toSeq
      assert(parsed == structured(s) && parsed.nonEmpty, s"query_string '$q'")
    }
  }

  test("nested aggregation tree: one rollup pass ≡ per-level direct grouping; size caps prune per parent (round-7)") {
    import graft.query.{DateHistLevel, HistogramLevel, TermsLevel}
    val q = "the zanzibar"
    val levels = Seq(TermsLevel("role", "k1"), DateHistLevel("ts", "day", "k2"),
      HistogramLevel("dl", 20L, "k3"))
    val got = searcher.nestedAgg(q, levels, statField = Some("dl")).collect().toSeq
    // direct oracle: each depth computed with its own plain groupBy
    val m = tok.filter(col("term").isin("the", "zanzibar")).select("docId").distinct()
    val base = docsDF.select(col("docId"), col("role"), col("ts"), col("dl"))
      .join(m, Seq("docId"))
      .select(col("role").as("k1"), date_trunc("day", col("ts")).as("k2"),
        (floor(col("dl") / lit(20)) * lit(20)).cast("long").as("k3"), col("dl"))
    def lvl(keys: Seq[String], depth: Int) = {
      val sel = Seq("k1", "k2", "k3").map(n =>
        if (keys.contains(n)) col(n) else lit(null).cast(base.schema(n).dataType).as(n))
      val g = if (keys.isEmpty) base.groupBy() else base.groupBy(keys.map(col): _*)
      g.agg(count(lit(1)).as("n_docs"), min(col("dl")).as("min"), max(col("dl")).as("max"),
          round(avg(col("dl")), 6).as("avg"), sum(col("dl")).as("sum"))
        .select(sel ++ Seq(lit(depth).as("depth"), col("n_docs"), col("min"), col("max"),
          col("avg"), col("sum")): _*)
    }
    val want = Seq(lvl(Nil, 0), lvl(Seq("k1"), 1), lvl(Seq("k1", "k2"), 2),
      lvl(Seq("k1", "k2", "k3"), 3)).reduce(_ unionByName _).collect().toSeq
    assert(got.nonEmpty && got.toSet == want.toSet,
      s"nestedAgg mismatch: extra=${got.toSet -- want.toSet} missing=${want.toSet -- got.toSet}")
    // every tree level is populated from the single pass
    assert((0 to 3).forall(d => got.exists(_.getAs[Int]("depth") == d)))

    // size cap at the ROOT level: only the top-1 role bucket (count
    // desc, key asc) and its descendants survive; the grand total stays
    val top1 = searcher.nestedAgg(q, Seq(TermsLevel("role", "k1", size = 1),
      levels(1), levels(2)), statField = Some("dl")).collect().toSeq
    val bestRole = got.filter(_.getAs[Int]("depth") == 1)
      .maxBy(r => (r.getAs[Long]("n_docs"), r.getAs[String]("k1")))(
        Ordering.Tuple2(Ordering.Long, Ordering.String.reverse)).getAs[String]("k1")
    assert(top1.filter(_.getAs[Int]("depth") >= 1).forall(_.getAs[String]("k1") == bestRole))
    assert(top1.count(_.getAs[Int]("depth") == 0) == 1)
    assert(top1.filter(_.getAs[Int]("depth") == 0).head.getAs[Long]("n_docs")
      == got.filter(_.getAs[Int]("depth") == 0).head.getAs[Long]("n_docs"))
    // cap ≥ bucket count is a no-op
    assert(searcher.nestedAgg(q, Seq(TermsLevel("role", "k1", size = 100),
      levels(1), levels(2)), statField = Some("dl")).collect().toSeq == got)
    // empty match set → EMPTY frame (Spark grouping-sets semantics;
    // the DuckDB twin pins the same via HAVING count(*) > 0)
    assert(searcher.nestedAgg("notavocabword", levels, statField = Some("dl")).isEmpty)

    // a real NULL bucket key survives size pruning (null-safe prune
    // join — round-7 review): 'tool' is null on most docs, and with a
    // cap ≥ bucket count nothing may be dropped
    val toolLv = Seq(TermsLevel("tool", "k1"), TermsLevel("role", "k2"))
    val uncapped = searcher.nestedAgg(q, toolLv).collect().toSeq
    assert(uncapped.exists(r => r.getAs[Int]("depth") == 1 && r.isNullAt(r.fieldIndex("k1"))))
    val capped = searcher.nestedAgg(q,
      Seq(TermsLevel("tool", "k1", size = 100), TermsLevel("role", "k2", size = 100)))
      .collect().toSeq
    assert(capped.toSet == uncapped.toSet,
      s"null bucket dropped: missing=${uncapped.toSet -- capped.toSet}")
  }

  test("phrase suggester: slot candidates × bigram doc-counts ≡ direct computation (round-7)") {
    val texts = docsDF.select(col("docId"), col("text")).as[(Long, String)].collect()
    val toksByDoc = texts.map { case (id, t) => id -> Analyzer.tokenize(t).toSeq }
    val dfMap = toksByDoc.flatMap(_._2.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    def cands(w: String, d: Int, cap: Int): Seq[String] = dfMap.keys.toSeq
      .map(t => (t, Expansion.levenshtein(w, t), dfMap(t)))
      .filter(_._2 <= d)
      .sortBy { case (t, dd, dfc) => (dd, -dfc, t) }.take(cap).map(_._1)
    def bigramCount(a: String, b: String): Long = toksByDoc.count { case (_, ts) =>
      (0 until ts.length - 1).exists(i => ts(i) == a && ts(i + 1) == b)
    }.toLong
    for ((phrase, d) <- Seq(("zanzibat quasat", 1), ("thee zanzibat", 1))) {
      val slots = Analyzer.tokenize(phrase).toSeq
      val cs = slots.map(cands(_, d, 3))
      assert(cs.forall(_.nonEmpty))
      val want = (for (a <- cs(0); b <- cs(1)) yield (s"$a $b", bigramCount(a, b)))
        .sortBy { case (s, sc) => (-sc, s) }.take(5)
      val got = searcher.phraseSuggest(phrase, 5, maxDist = d, maxPerSlot = 3)
        .as[(String, Long)].collect().toSeq
      assert(got == want && got.nonEmpty, s"phraseSuggest '$phrase':\n got=$got\n want=$want")
      assert(warmed.phraseSuggest(phrase, 5, maxDist = d, maxPerSlot = 3)
        .as[(String, Long)].collect().toSeq == want)
    }
    // the planted adjacent phrase gives a POSITIVE bigram score
    val top = searcher.phraseSuggest("zanzibat quasat", 1, maxDist = 1)
      .as[(String, Long)].collect().head
    assert(top._1 == "zanzibar quasar" && top._2 > 0)
    // sub-2-token inputs return the empty frame
    assert(searcher.phraseSuggest("zanzibat", 5).isEmpty)
  }

  test("constant_score, rescore window, fuzzy prefix_length (round-7)") {
    // constant_score: filter-context membership, score = boost, docId asc
    val cs = searcher.searchConstantScore(BoolQuerySpec("zanzibar the",
      filters = Seq("role" -> "user")), 10, boost = 2.5).as[(Long, Double)].collect().toSeq
    val memberWant = tok.filter(col("term").isin("zanzibar", "the"))
      .select("docId").distinct()
      .join(docsDF.filter(col("role") === lit("user")).select("docId"), Seq("docId"), "left_semi")
      .orderBy(col("docId")).limit(10).as[Long].collect().toSeq
    assert(cs == memberWant.map(id => (id, 2.5)) && cs.nonEmpty)
    assert(warmed.searchConstantScore(BoolQuerySpec("zanzibar the",
      filters = Seq("role" -> "user")), 10, boost = 2.5).as[(Long, Double)].collect().toSeq == cs)

    // rescore: the top-`window` BM25 hits (exact oracle) re-rank by
    // bm25 · (factor · field); docs OUTSIDE the window cannot enter
    val window = 30
    val want = Oracle.topK(docsDF, "the zanzibar", window)
      .join(docsDF.select(col("docId"), col("dl")), Seq("docId"))
      .select(col("docId"), (col("score") * (lit(0.01) * col("dl"))).as("score"))
      .orderBy(col("score").desc, col("docId").asc).limit(10)
      .as[(Long, Double)].collect().toSeq
    val got = searcher.rescoreByFieldFactor("the zanzibar", 10, window, "dl", 0.01)
      .as[(Long, Double)].collect().toSeq
    assert(got == want && got.nonEmpty)
    // the window re-rank actually CHANGES the order vs plain BM25
    assert(got.map(_._1) != searcher.search("the zanzibar", 10).map(_.docId).toSeq)
    intercept[IllegalArgumentException] {
      searcher.rescoreByFieldFactor("the", 10, 5, "dl", 1.0) // window < k
    }

    // fuzzy prefix_length: candidates must share the first N chars —
    // expected set recomputed from the raw vocabulary
    val vocab = tok.select("term").distinct().as[String].collect().toSet
    def fuzzWant(w: String, d: Int, pfxLen: Int): Seq[graft.model.Scored] = {
      // the Lucene rule: prefix_length ≥ len(term) ⇒ exact term query
      val cands =
        if (pfxLen >= w.length) vocab.filter(_ == w).toSeq
        else vocab.filter(t => t.startsWith(w.take(pfxLen)) &&
          math.abs(t.length - w.length) <= d && Expansion.levenshtein(w, t) <= d)
          .toSeq.sorted.take(50)
      if (cands.isEmpty) Seq.empty
      else Oracle.topK(docsDF, cands.mkString(" "), 10).as[graft.model.Scored].collect().toSeq
    }
    for ((w, d, p) <- Seq(("zanzibat", 1, 4), ("thee", 1, 2), ("thee", 1, 0),
        ("t1", 1, 1), ("t1", 1, 2))) {
      val wantF = fuzzWant(w, d, p)
      val gotF = searcher.searchFuzzy(w, 10, maxDist = d, prefixLength = p).toSeq
      assert(gotF == wantF, s"fuzzy '$w' d=$d pfx=$p:\n got=$gotF\n want=$wantF")
      assert(warmed.searchFuzzy(w, 10, maxDist = d, prefixLength = p).toSeq == wantF)
    }
    // Lucene exact-degeneration (round-7 review): prefix_length ≥
    // len(term) means EXACT — extending terms (t10.. extend t1 within
    // one edit) must NOT match, so this ≡ a plain term query...
    assert(searcher.searchFuzzy("t1", 10, maxDist = 1, prefixLength = 2).toSeq
      == searcher.search("t1", 10).toSeq)
    // ...while prefix_length 1 keeps the fuzzy extensions
    assert(searcher.searchFuzzy("t1", 10, maxDist = 1, prefixLength = 1).toSeq
      != searcher.search("t1", 10).toSeq)
    // an unindexed term with prefix ≥ length → empty
    assert(searcher.searchFuzzy("zanzibat", 10, maxDist = 1, prefixLength = 8).isEmpty)
  }

  test("significant_terms, suggester, more_like_this ≡ direct computation") {
    val terms = Analyzer.analyzeQuery("zanzibar quasar").toSeq
    val mDocs = tok.filter(col("term").isin(terms: _*)).select("docId").distinct().cache()
    val fgN = mDocs.count()
    assert(fgN > 0)
    // significant_terms: marker-doc vocabulary is over-represented
    val got = searcher.significantTerms("zanzibar quasar", 10, minDocCount = 2L)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty && got.forall(_._4 > 0))
    // scores are (score desc, term asc)-ordered and counts are exact
    assert(got == got.sortBy { case (t, _, _, sc) => (-sc, t) })
    val bgAll = tok.groupBy(col("term")).agg(countDistinct(col("docId")).as("bg"))
      .as[(String, Long)].collect().toMap
    val fgAll = tok.join(mDocs, Seq("docId")).groupBy(col("term"))
      .agg(countDistinct(col("docId")).as("fg")).as[(String, Long)].collect().toMap
    for ((t, fgc, bgc, _) <- got) {
      assert(fgc == fgAll(t) && bgc == bgAll(t) && fgc >= 2)
    }
    // the planted markers dominate: their fg% is 100% of the match set
    assert(got.map(_._1).contains("zanzibar") || got.map(_._1).contains("quasar"))

    // sampler cap (round-7): a cap LARGER than the match set is a
    // no-op (cap-on ≡ cap-off, exactly); a smaller cap recomputes over
    // the lowest-docId sample — fg counts match a direct computation
    // over that sample and fgN-dependent scores stay internally exact
    assert(searcher.significantTerms("zanzibar quasar", 10, minDocCount = 2L,
        sampleSize = fgN.toInt + 1000)
      .as[(String, Long, Long, Double)].collect().toSeq == got)
    val capN = math.max(1, fgN.toInt / 2)
    val sampleIds = mDocs.orderBy(col("docId")).limit(capN)
    val fgSample = tok.join(sampleIds, Seq("docId")).groupBy(col("term"))
      .agg(countDistinct(col("docId")).as("fg")).as[(String, Long)].collect().toMap
    val capped = searcher.significantTerms("zanzibar quasar", 10, minDocCount = 1L,
        sampleSize = capN).as[(String, Long, Long, Double)].collect().toSeq
    assert(capped.nonEmpty)
    for ((t, fgc, bgc, _) <- capped)
      assert(fgc == fgSample(t) && bgc == bgAll(t), s"sampled counts for '$t'")

    // suggester: 'thee' (absent) → 'the' (dist 1, giant df) ranks first
    val sg = searcher.suggestTerms("thee", 5, maxDist = 1)
      .as[(String, Int, Long)].collect().toSeq
    assert(sg.nonEmpty && sg.head._1 == "the" && sg.head._2 == 1)
    assert(sg.map(_._1).forall(t => Expansion.levenshtein("thee", t) <= 1 && t != "thee"))
    assert(sg == sg.sortBy { case (t, d, df) => (d, -df, t) })

    // more_like_this: reconstruct the selection rule and pin identity
    val srcId = mDocs.orderBy(col("docId")).as[Long].head()
    val srcText = docsDF.filter(col("docId") === srcId).select(col("text"))
      .as[String].head()
    val tfMap = Analyzer.tokenize(srcText).groupBy(identity)
      .map { case (t, xs) => t -> xs.length }
    val dfMap = tok.filter(col("term").isin(tfMap.keys.toSeq: _*))
      .groupBy(col("term")).agg(countDistinct(col("docId")).as("df"))
      .as[(String, Long)].collect().toMap
    val selected = tfMap.toSeq
      .map { case (t, f) => (t, f, dfMap(t)) }
      .sortBy { case (t, f, df) => (-f, df, t) }.take(25).map(_._1)
    val wantMlt = Oracle.topK(docsDF, selected.mkString(" "), Int.MaxValue)
      .filter(col("docId") =!= srcId)
      .orderBy(col("score").desc, col("docId").asc).limit(10)
      .as[Scored].collect().toSeq
    val gotMlt = searcher.moreLikeThis(srcId, 10)
    assert(gotMlt.toSeq == wantMlt && gotMlt.nonEmpty)
    assert(!gotMlt.map(_.docId).contains(srcId))
    mDocs.unpersist(blocking = false)
  }

  test("cross-segment parity: MultiSearcher answers the full surface like the compacted index") {
    val segIdx = s"${TestSpark.tmpRoot}/surface-segmented"
    val all = Transcripts.generate(spark, 120L).cache()
    for (b <- 0 until 3) {
      val lo = f"conv-${b * 40}%08d"
      val hi = f"conv-${(b + 1) * 40}%08d"
      graft.streaming.StreamingIngest.appendSegment(spark,
        all.filter(col("conv_id") >= lo && col("conv_id") < hi), segIdx, b.toLong, cfg)
    }
    val compacted = s"${TestSpark.tmpRoot}/surface-compacted"
    graft.index.Compaction.compact(spark, segIdx, compacted)
    val multi = new graft.query.MultiSearcher(spark, segIdx)
    val single = new Searcher(spark, compacted, cfg.numShards)

    // expansion queries (prefix / wildcard / fuzzy)
    assert(multi.searchPrefix("zanz", 10).toSeq == single.searchPrefix("zanz", 10).toSeq)
    assert(multi.searchPrefix("zanz", 10).nonEmpty)
    assert(multi.searchWildcard("t1?", 10, maxExpansions = 200).toSeq
      == single.searchWildcard("t1?", 10, maxExpansions = 200).toSeq)
    assert(multi.searchFuzzy("zanzibat", 10).toSeq == single.searchFuzzy("zanzibat", 10).toSeq)
    assert(multi.searchFuzzy("zanzibat", 10).nonEmpty)

    // match-set surfaces
    for (q <- Seq("the zanzibar", "one have t999")) {
      assert(multi.matchCount(q) == single.matchCount(q))
      assert(multi.facetCounts(q, "role").as[(String, Long)].collect().toSeq
        == single.facetCounts(q, "role").as[(String, Long)].collect().toSeq)
      assert(multi.searchSortedBy(q, "dl", 10).as[(Long, Int)].collect().toSeq
        == single.searchSortedBy(q, "dl", 10).as[(Long, Int)].collect().toSeq)
      assert(multi.numericHistogram(q, "dl", 25).as[(Long, Long)].collect().toSeq
        == single.numericHistogram(q, "dl", 25).as[(Long, Long)].collect().toSeq)
      assert(multi.fieldStats(q, "dl").collect().toSeq
        == single.fieldStats(q, "dl").collect().toSeq)
    }
    assert(multi.dateHistogram("the", "ts", "hour").as[(java.sql.Timestamp, Long)].collect().toSeq
      == single.dateHistogram("the", "ts", "hour").as[(java.sql.Timestamp, Long)].collect().toSeq)
    // bool-filtered aggs agree across segments too
    assert(multi.facetCounts(BoolQuerySpec("the", filters = Seq("role" -> "user"),
      numericRangeFilters = Seq(("dl", 30L, 80L))), "role").as[(String, Long)].collect().toSeq
      == single.facetCounts(BoolQuerySpec("the", filters = Seq("role" -> "user"),
        numericRangeFilters = Seq(("dl", 30L, 80L))), "role").as[(String, Long)].collect().toSeq)
    assert(multi.matchCount(BoolQuerySpec("the", mustNot = Seq("role" -> "user")))
      == single.matchCount(BoolQuerySpec("the", mustNot = Seq("role" -> "user"))))
    // round-6: terms + lexicographic range clauses agree across segments
    val any6 = Seq("role" -> Seq("user", "assistant"))
    val rng6 = Seq(("role", "a", "b"))
    assert(multi.facetCounts(BoolQuerySpec("the", anyFilters = any6, rangeFilters = rng6), "role")
        .as[(String, Long)].collect().toSeq
      == single.facetCounts(BoolQuerySpec("the", anyFilters = any6, rangeFilters = rng6), "role")
        .as[(String, Long)].collect().toSeq)
    assert(multi.matchCount(BoolQuerySpec("the", anyFilters = any6, rangeFilters = rng6))
      == single.matchCount(BoolQuerySpec("the", anyFilters = any6, rangeFilters = rng6)))
    assert(multi.matchCount(BoolQuerySpec("the", anyFilters = any6, rangeFilters = rng6)) > 0)
    assert(multi.searchSortedBy(BoolQuerySpec("the", anyFilters = any6, rangeFilters = rng6),
      "dl", 5)
        .as[(Long, Int)].collect().toSeq
      == single.searchSortedBy(BoolQuerySpec("the", anyFilters = any6, rangeFilters = rng6),
        "dl", 5)
        .as[(Long, Int)].collect().toSeq)

    // bool surface incl. numeric trie range + should, and pagination
    val nr = Seq(("dl", 40L, 90L))
    assert(multi.searchBool("the", 10, numericRangeFilters = nr).toSeq
      == single.searchBool("the", 10, numericRangeFilters = nr).toSeq)
    assert(multi.searchBool("the", 10, numericRangeFilters = nr).nonEmpty)
    assert(multi.searchBool("zanzibar", 10, should = "the quasar", minShouldMatch = 1).toSeq
      == single.searchBool("zanzibar", 10, should = "the quasar", minShouldMatch = 1).toSeq)
    val mPages = (0 until 2).map(p => multi.search("the", 10, from = p * 10).toSeq)
    val sPages = (0 until 2).map(p => single.search("the", 10, from = p * 10).toSeq)
    assert(mPages == sPages)
    assert(multi.searchAfter("the", 10, mPages(0).last).toSeq == mPages(1))
    // proximity parity across segments
    assert(multi.searchPhrase("the a", 20, slop = 2).toSeq
      == single.searchPhrase("the a", 20, slop = 2).toSeq)
    assert(multi.searchPhrase("the a", 20, slop = 2).nonEmpty)

    // cross-segment batched _msearch ≡ standalone multi calls ≡ the
    // compacted index's batch (one job for the whole heterogeneous set)
    val batch = Seq(
      BoolQuerySpec("the zanzibar"),
      BoolQuerySpec("the a", conjunctive = true),
      BoolQuerySpec("the a", phrase = true, phraseSlop = 2),
      BoolQuerySpec("the", filters = Seq("role" -> "user"),
        numericRangeFilters = Seq(("dl", 40L, 90L))),
      BoolQuerySpec("zanzibar", should = "the quasar", minShouldMatch = 1),
      BoolQuerySpec("definitely-notavocab-word"))
    val mBatch = multi.searchManyBool(batch, 10).map(_.toSeq)
    assert(mBatch == Seq(
      multi.search("the zanzibar", 10).toSeq,
      multi.searchConjunctive("the a", 10).toSeq,
      multi.searchPhrase("the a", 10, slop = 2).toSeq,
      multi.searchBool("the", 10, filters = Seq("role" -> "user"),
        numericRangeFilters = Seq(("dl", 40L, 90L))).toSeq,
      multi.searchBool("zanzibar", 10, should = "the quasar", minShouldMatch = 1).toSeq,
      Seq.empty), "cross-segment batch differs from standalone")
    assert(mBatch == single.searchManyBool(batch, 10).map(_.toSeq),
      "cross-segment batch differs from compacted batch")
    assert(mBatch.take(5).forall(_.nonEmpty))

    // round-5 surface parity: field-sort search_after, sub-aggregation,
    // batched lexicographic range filters
    val sa = multi.searchSortedBy("the", "dl", 10).as[(Long, Int)].collect().toSeq
    val cur = sa.last
    assert(multi.searchSortedBy("the", "dl", 10, after = Some((cur._2, cur._1)))
        .as[(Long, Int)].collect().toSeq
      == single.searchSortedBy("the", "dl", 10, after = Some((cur._2, cur._1)))
        .as[(Long, Int)].collect().toSeq)
    assert(multi.facetStats("the", "role", "dl").collect().toSeq
      == single.facetStats("the", "role", "dl").collect().toSeq)
    val rfSpecs = Seq(BoolQuerySpec("the", rangeFilters = Seq(("role", "a", "u"))))
    assert(multi.searchManyBool(rfSpecs, 10).head.toSeq
      == multi.searchBool("the", 10, rangeFilters = Seq(("role", "a", "u"))).toSeq)
    assert(multi.searchManyBool(rfSpecs, 10).head.toSeq
      == single.searchManyBool(rfSpecs, 10).head.toSeq)
    assert(multi.searchManyBool(rfSpecs, 10).head.nonEmpty)

    // round-6 parity: match_phrase_prefix across segments (global
    // distinct expansion ≡ the compacted dictionary's)
    assert(multi.searchPhrasePrefix("the t1", 10).toSeq
      == single.searchPhrasePrefix("the t1", 10).toSeq)
    assert(multi.searchPhrasePrefix("the t1", 10).nonEmpty)
    // round-7: expansion set containing a fixed phrase term — both
    // searchers must agree (the single-index path used to throw)
    assert(multi.searchPhrasePrefix("the th", 10).toSeq
      == single.searchPhrasePrefix("the th", 10).toSeq)
    assert(multi.searchPhrasePrefix("the th", 10).nonEmpty)

    // round-6 parity: significant_terms / suggester / more_like_this
    assert(multi.significantTerms("zanzibar quasar", 10, minDocCount = 1L)
        .as[(String, Long, Long, Double)].collect().toSeq
      == single.significantTerms("zanzibar quasar", 10, minDocCount = 1L)
        .as[(String, Long, Long, Double)].collect().toSeq)
    assert(multi.significantTerms("zanzibar quasar", 10, minDocCount = 1L).count() > 0)
    assert(multi.suggestTerms("thee", 5).as[(String, Int, Long)].collect().toSeq
      == single.suggestTerms("thee", 5).as[(String, Int, Long)].collect().toSeq)
    assert(multi.suggestTerms("thee", 5).count() > 0)
    val mltSrc = 3L
    assert(multi.moreLikeThis(mltSrc, 10).toSeq == single.moreLikeThis(mltSrc, 10).toSeq)
    assert(multi.moreLikeThis(mltSrc, 10).nonEmpty)

    // round-7 parity: nested aggregation tree across segments
    {
      import graft.query.{DateHistLevel, TermsLevel}
      val lv = Seq(TermsLevel("role", "k1"), DateHistLevel("ts", "day", "k2"))
      assert(multi.nestedAgg("the", lv, statField = Some("dl")).collect().toSeq
        == single.nestedAgg("the", lv, statField = Some("dl")).collect().toSeq)
      assert(multi.nestedAgg("the", lv, statField = Some("dl")).count() > 0)
    }

    // round-7 parity: constant_score / rescore / fuzzy prefix_length
    assert(multi.searchConstantScore(BoolQuerySpec("the", filters = Seq("role" -> "user")), 10,
      boost = 3.0)
        .as[(Long, Double)].collect().toSeq
      == single.searchConstantScore(BoolQuerySpec("the", filters = Seq("role" -> "user")), 10,
        boost = 3.0)
        .as[(Long, Double)].collect().toSeq)
    assert(multi.searchConstantScore("the", 10).count() > 0)
    assert(multi.rescoreByFieldFactor("the", 10, 30, "dl", 0.01)
        .as[(Long, Double)].collect().toSeq
      == single.rescoreByFieldFactor("the", 10, 30, "dl", 0.01)
        .as[(Long, Double)].collect().toSeq)
    assert(multi.searchFuzzy("thee", 10, maxDist = 1, prefixLength = 2).toSeq
      == single.searchFuzzy("thee", 10, maxDist = 1, prefixLength = 2).toSeq)
    assert(multi.searchFuzzy("thee", 10, maxDist = 1, prefixLength = 2).nonEmpty)

    // round-7 parity: phrase suggester across segments (positions +
    // merged df + tombstone exclusion ≡ the compacted index)
    assert(multi.phraseSuggest("zanzibat quasat", 5, maxDist = 1)
        .as[(String, Long)].collect().toSeq
      == single.phraseSuggest("zanzibat quasat", 5, maxDist = 1)
        .as[(String, Long)].collect().toSeq)
    assert(multi.phraseSuggest("zanzibat quasat", 5, maxDist = 1).count() > 0)

    // round-7 parity: regexp / match-fuzziness / dis_max across segments
    assert(multi.searchRegexp("th.", 10).toSeq == single.searchRegexp("th.", 10).toSeq)
    assert(multi.searchRegexp("th.", 10).nonEmpty)
    assert(multi.searchMatchFuzzy("thee quasat", 10).toSeq
      == single.searchMatchFuzzy("thee quasat", 10).toSeq)
    assert(multi.searchMatchFuzzy("thee quasat", 10).nonEmpty)
    for (tb <- Seq(0.0, 0.5, 1.0)) {
      assert(multi.searchDisMax(Seq("zanzibar quasar", "the"), 10, tb).toSeq
        == single.searchDisMax(Seq("zanzibar quasar", "the"), 10, tb).toSeq, s"dis_max tb=$tb")
      assert(multi.searchDisMax(Seq("zanzibar quasar", "the"), 10, tb).nonEmpty)
    }

    // round-6 parity: query_string + mustNotText across segments
    val qsSchema = graft.query.QueryString.Schema(keywordFields = Set("role"),
      numericFields = Set("dl"))
    for (q <- Seq("the -a", "the AND a", "the role:user dl:[30 TO 80]")) {
      assert(multi.searchQueryString(q, 10, qsSchema).toSeq
        == single.searchQueryString(q, 10, qsSchema).toSeq, s"query_string '$q'")
      assert(multi.searchQueryString(q, 10, qsSchema).nonEmpty)
    }

    // round-6 parity: exists/missing clauses + the three new aggs
    assert(multi.searchBool("the", 10, exists = Seq("tool")).toSeq
      == single.searchBool("the", 10, exists = Seq("tool")).toSeq)
    assert(multi.searchBool("the", 10, exists = Seq("tool")).nonEmpty)
    assert(multi.searchBool("the", 10, missing = Seq("tool")).toSeq
      == single.searchBool("the", 10, missing = Seq("tool")).toSeq)
    assert(multi.matchCount(BoolQuerySpec("the", exists = Seq("tool")))
      == single.matchCount(BoolQuerySpec("the", exists = Seq("tool"))))
    assert(multi.cardinality("the", "tool") == single.cardinality("the", "tool"))
    assert(multi.cardinality("the", "tool") > 0)
    assert(multi.percentiles("the", "dl", Seq(0.25, 0.5, 0.9))
        .as[(Double, Double)].collect().toSeq
      == single.percentiles("the", "dl", Seq(0.25, 0.5, 0.9))
        .as[(Double, Double)].collect().toSeq)
    assert(multi.facetTopHits("the", "role", "dl", 3)
        .as[(String, Long, Long, Long)].collect().toSeq
      == single.facetTopHits("the", "role", "dl", 3)
        .as[(String, Long, Long, Long)].collect().toSeq)
    assert(multi.facetTopHits("the", "role", "dl", 3).count() == 9)
    assert(multi.facetCounts("the", "role", size = 2).as[(String, Long)].collect().toSeq
      == single.facetCounts("the", "role", size = 2).as[(String, Long)].collect().toSeq)
    val rgs = Seq((None, Some(50L)), (Some(50L), None))
    assert(multi.rangesAgg("the", "dl", rgs).as[(String, Long)].collect().toSeq
      == single.rangesAgg("the", "dl", rgs).as[(String, Long)].collect().toSeq)
    assert(multi.rangesAgg("the", "dl", rgs).as[(String, Long)].collect().map(_._2).sum > 0)
    val fb = Seq("users" -> ("role", "user"), "tools" -> ("role", "tool"))
    assert(multi.filtersAgg("the", fb).as[(String, Long)].collect().toSeq
      == single.filtersAgg("the", fb).as[(String, Long)].collect().toSeq)
    assert(multi.filtersAgg("the", fb).as[(String, Long)].collect().forall(_._2 > 0))

    // warm() pins the segment frames; results identical on every path
    val warmMulti = new graft.query.MultiSearcher(spark, segIdx).warm()
    assert(warmMulti.search("the zanzibar", 10).toSeq == multi.search("the zanzibar", 10).toSeq)
    assert(warmMulti.searchPrefix("zanz", 10).toSeq == multi.searchPrefix("zanz", 10).toSeq)
    assert(warmMulti.matchCount("the zanzibar") == multi.matchCount("the zanzibar"))
    assert(warmMulti.searchBool("the", 10, numericRangeFilters = nr).toSeq
      == multi.searchBool("the", 10, numericRangeFilters = nr).toSeq)
    assert(warmMulti.searchBool("the", 10, exists = Seq("tool")).toSeq
      == multi.searchBool("the", 10, exists = Seq("tool")).toSeq)

    // resolve + highlight parity (fragments are pure functions of
    // (text, terms) — identical rows ⇒ identical fragments)
    val mHi = multi.searchHighlighted("zanzibar quasar", 5)
      .select("rank", "docId", "conv_id", "turn_idx", "fragment")
      .as[(Long, Long, String, Long, String)].collect().toSeq
    assert(mHi.nonEmpty && mHi.forall(_._5.contains("<em>zanzibar</em>")))

    // round-8 surface parity: field collapsing, decay rescore,
    // composite after-paging (cross-segment scores use the merged
    // stats = the compacted index's stats, so all three agree exactly)
    assert(multi.collapse("the zanzibar", "role", 5).collect().toSeq
      == single.collapse("the zanzibar", "role", 5).collect().toSeq)
    assert(multi.collapse("the zanzibar", "role", 5).collect().nonEmpty)
    val o8 = all.agg(max(unix_millis(col("ts")))).head().getLong(0).toDouble
    assert(multi.rescoreByDecay("the zanzibar", 10, 30, "ts", "gauss",
        origin = o8, scale = 3600000.0).collect().toSeq
      == single.rescoreByDecay("the zanzibar", 10, 30, "ts", "gauss",
        origin = o8, scale = 3600000.0).collect().toSeq)
    val lv8 = Seq(graft.query.TermsLevel("role", "k1"),
      graft.query.TermsLevel("dl", "k2"))
    assert(multi.compositeAgg("the", lv8, 7, after = Some(Seq("assistant", 30)))
        .collect().toSeq
      == single.compositeAgg("the", lv8, 7, after = Some(Seq("assistant", 30)))
        .collect().toSeq)

    // round-8 stretch parity: boosting / span_first / min_score /
    // completion suggester across segments
    assert(multi.boosting("the zanzibar", "quasar", 10).collect().toSeq
      == single.boosting("the zanzibar", "quasar", 10).collect().toSeq)
    assert(multi.boosting("the zanzibar", "quasar", 10).count() > 0)
    assert(multi.searchSpanFirst("the", 3, 10).toSeq
      == single.searchSpanFirst("the", 3, 10).toSeq)
    assert(multi.searchSpanFirst("the", 3, 10).nonEmpty)
    val ms8 = single.search("the zanzibar", 10)
    val t8 = ms8(ms8.length / 2).score
    assert(multi.searchMinScore("the zanzibar", 10, t8).toSeq
      == single.searchMinScore("the zanzibar", 10, t8).toSeq)
    assert(multi.searchMinScore("the zanzibar", 10, t8).nonEmpty)
    assert(multi.suggestCompletion("t1", 5).as[(String, Long)].collect().toSeq
      == single.suggestCompletion("t1", 5).as[(String, Long)].collect().toSeq)
    assert(multi.suggestCompletion("t1", 5).count() > 0)
    all.unpersist(blocking = false)
  }

  test("field collapsing: one best hit per key ≡ oracle window; filters compose (round-8)") {
    val q = "the zanzibar"
    val w8 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("score").desc, col("docId").asc)
    def want(filtered: Boolean, k: Int): Seq[(Int, Long, Double)] = {
      var scored = Oracle.topK(docsDF, q, Int.MaxValue)
      if (filtered)
        scored = scored.join(docsDF.filter(col("role") === lit("user"))
          .select("docId"), Seq("docId"), "left_semi")
      scored.join(docsDF.select(col("docId"), col("dl").as("key")), Seq("docId"))
        .withColumn("rn", row_number().over(w8)).filter(col("rn") === lit(1))
        .select(col("key"), col("docId"), col("score"))
        .orderBy(col("score").desc, col("docId").asc).limit(k)
        .as[(Int, Long, Double)].collect().toSeq
    }
    def hits(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Double)] =
      df.select(col("key"), col("doc_id"), col("score"))
        .as[(Int, Long, Double)].collect().toSeq
    val got = hits(searcher.collapse(q, "dl", 10))
    assert(got == want(filtered = false, 10) && got.size == 10)
    // one hit per key, ranked by the group's best
    assert(got.map(_._1).distinct.size == got.size)
    assert(got.map(_._3) == got.map(_._3).sorted.reverse)
    // warm dictionary path resolves terms identically
    assert(hits(warmed.collapse(q, "dl", 10)) == got)
    // filter context restricts membership, scores stay full-corpus
    val gotF = hits(searcher.collapse(BoolQuerySpec(q, filters = Seq("role" -> "user")), "dl", 10))
    assert(gotF == want(filtered = true, 10) && gotF.nonEmpty)
    // inner_hits: each kept group returns its ≤ M best hits in rank
    // order; group selection and ordering stay EXACTLY the best-hit
    // page (rank-1 rows ≡ the innerHits=1 result)
    val inner = searcher.collapse(q, "dl", 5, innerHits = 3)
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(inner.filter(_._2 == 1).map(r => (r._1, r._3, r._4)) == want(filtered = false, 5))
    val fullRank = Oracle.topK(docsDF, q, Int.MaxValue)
      .join(docsDF.select(col("docId"), col("dl").as("key")), Seq("docId"))
      .withColumn("rn", row_number().over(w8)).filter(col("rn") <= lit(3))
      .as[(Long, Double, Int, Int)].collect()
      .map { case (id, s, key, rn) => (key, rn, id, s) }.toSeq
    for ((key, rows) <- inner.groupBy(_._1)) {
      // the group's inner hits are the per-key ranking prefix
      assert(rows.sortBy(_._2) == fullRank.filter(_._1 == key).sortBy(_._2).take(rows.size))
      assert(rows.map(_._2).sorted == (1 to rows.size))
    }
    // collapsing differs from plain top-k EXACTLY when a key repeats
    // there (all-distinct keys ⇒ collapse ≡ plain, also pinned)
    val plain = searcher.search(q, 10).map(_.docId).toSeq
    val plainKeys = docsDF.filter(col("docId").isin(plain: _*))
      .select("docId", "dl").as[(Long, Int)].collect().toMap
    if (plain.map(plainKeys).distinct.size < plain.size)
      assert(got.map(_._2) != plain)
    else assert(got.map(_._2) == plain)
    // a coarse key (role: 2 values) must dedup a >2-hit ranking
    val gotRole = searcher.collapse(q, "role", 5)
      .select(col("key"), col("doc_id"), col("score"))
      .as[(String, Long, Double)].collect().toSeq
    assert(gotRole.map(_._1).distinct.size == gotRole.size && gotRole.size <= 3)
    // no matching term → empty frame with the contract schema
    assert(searcher.collapse("qqqzzz", "dl", 5).collect().isEmpty)
  }

  test("boosting: negative membership demotes by the factor ≡ oracle (round-8)") {
    val posQ = "the zanzibar"
    val negQ = "quasar"
    val negSet = tok.filter(col("term").isin(Analyzer.analyzeQuery(negQ).toSeq: _*))
      .select(col("docId")).distinct().withColumn("__neg", lit(true))
    def want(k: Int, b: Double): Seq[(Long, Double)] =
      Oracle.topK(docsDF, posQ, Int.MaxValue)
        .join(negSet, Seq("docId"), "left")
        .select(col("docId"),
          when(col("__neg").isNotNull, col("score") * lit(b))
            .otherwise(col("score")).as("score"))
        .orderBy(col("score").desc, col("docId").asc).limit(k)
        .as[(Long, Double)].collect().toSeq
    // the fixture actually exercises demotion (pos ∩ neg non-empty)
    assert(Oracle.topK(docsDF, posQ, Int.MaxValue)
      .join(negSet, Seq("docId"), "left_semi").count() > 0)
    val got = searcher.boosting(posQ, negQ, 10).as[(Long, Double)].collect().toSeq
    assert(got == want(10, 0.5) && got.nonEmpty)
    assert(warmed.boosting(posQ, negQ, 10).as[(Long, Double)].collect().toSeq == got)
    // negative_boost = 1 ⇒ no demotion ⇒ the plain ranking
    assert(searcher.boosting(posQ, negQ, 10, negativeBoost = 1.0)
      .as[(Long, Double)].collect().toSeq
      == searcher.search(posQ, 10).map(h => (h.docId, h.score)).toSeq)
    // matching the negative ALONE never matches: hits ⊆ positive set
    val posSet = tok.filter(col("term").isin(Analyzer.analyzeQuery(posQ).toSeq: _*))
      .select("docId").distinct().as[Long].collect().toSet
    assert(got.forall(h => posSet.contains(h._1)))
    // no positive term in the index → empty frame, contract schema
    val none = searcher.boosting("qqqzzz", negQ, 10)
    assert(none.columns.toSeq == Seq("doc_id", "score") && none.count() == 0)
    intercept[IllegalArgumentException] { searcher.boosting(posQ, negQ, 10, -0.1) }
  }

  test("span_first: occurrence must start inside the first N positions (round-8)") {
    val posDF = docsDF.select(col("docId"),
      posexplode(Analyzer.tokensCol(col("text")))).toDF("docId", "p", "term").cache()
    val t = "zanzibar"
    def wantTerm(end: Int, k: Int): Seq[Scored] = {
      val mem = posDF.filter(col("term") === lit(t) && col("p") + lit(1) <= lit(end))
        .select("docId").distinct()
      Oracle.topK(docsDF, t, Int.MaxValue).join(mem, Seq("docId"), "left_semi")
        .orderBy(col("score").desc, col("docId").asc).limit(k)
        .as[Scored].collect().toSeq
    }
    for (end <- Seq(1, 3, 10, 100)) {
      val got = searcher.searchSpanFirst(t, end, 10).toSeq
      assert(got == wantTerm(end, 10), s"end=$end")
      assert(warmed.searchSpanFirst(t, end, 10).toSeq == got, s"warm end=$end")
    }
    // the gate is real: huge end ≡ the plain term query; the fixture
    // has docs where the term first occurs PAST a tight bound
    assert(searcher.searchSpanFirst(t, 1 << 20, 10).toSeq == searcher.search(t, 10).toSeq)
    assert(wantTerm(3, Int.MaxValue).size < wantTerm(1 << 20, Int.MaxValue).size)
    assert(searcher.searchSpanFirst(t, 1 << 20, 10).nonEmpty)

    // phrase form: the adjacency chain must END within the bound —
    // fixture bigram picked from the corpus (most frequent adjacent pair)
    val big = posDF.as("x").join(posDF.as("y"),
        expr("x.docId = y.docId AND y.p = x.p + 1"))
      .groupBy(col("x.term").as("a"), col("y.term").as("b"))
      .agg(countDistinct(col("x.docId")).as("n"))
      .orderBy(col("n").desc, col("a").asc, col("b").asc).head()
    val (ta, tb) = (big.getString(0), big.getString(1))
    val ph = s"$ta $tb"
    def wantPhrase(end: Int, k: Int): Seq[Scored] = {
      val pa = posDF.filter(col("term") === lit(ta)).select(col("docId"), col("p").as("pa"))
      val pb = posDF.filter(col("term") === lit(tb)).select(col("docId"), col("p").as("pb"))
      val mem = pa.join(pb, Seq("docId"))
        .filter(col("pb") === col("pa") + lit(1) && col("pa") + lit(2) <= lit(end))
        .select("docId").distinct()
      Oracle.topK(docsDF, ph, Int.MaxValue).join(mem, Seq("docId"), "left_semi")
        .orderBy(col("score").desc, col("docId").asc).limit(k)
        .as[Scored].collect().toSeq
    }
    for (end <- Seq(2, 8, 1 << 20)) {
      val got = searcher.searchSpanFirst(ph, end, 10).toSeq
      assert(got == wantPhrase(end, 10), s"phrase '$ph' end=$end")
      assert(warmed.searchSpanFirst(ph, end, 10).toSeq == got, s"warm phrase end=$end")
    }
    assert(searcher.searchSpanFirst(ph, 1 << 20, 10).nonEmpty)
    // a span ending exactly AT the bound matches; one past it does not
    // (end() <= end — the Lucene SpanFirstQuery boundary)
    val firstEnds = posDF.filter(col("term") === lit(t))
      .groupBy("docId").agg(min(col("p")).as("p0"))
    val tightest = firstEnds.agg(min(col("p0") + lit(1)).cast("long")).head().getLong(0).toInt
    assert(searcher.searchSpanFirst(t, tightest, 10).nonEmpty)
    if (tightest > 1) assert(searcher.searchSpanFirst(t, tightest - 1, 10).isEmpty)
    intercept[IllegalArgumentException] { searcher.searchSpanFirst(t, 0, 10) }
    assert(searcher.searchSpanFirst("", 5, 10).isEmpty)
    posDF.unpersist(blocking = false)
  }

  test("min_score: sub-threshold hits drop from the page (round-8)") {
    val q = "the zanzibar"
    val plain = searcher.search(q, 10)
    assert(plain.length == 10)
    val t = plain(4).score // threshold at the 5th hit keeps ties
    val got = searcher.searchMinScore(q, 10, t).toSeq
    assert(got == plain.filter(_.score >= t).toSeq && got.nonEmpty)
    // filter(top-k) ≡ top-k(filter): threshold over the FULL ranking
    val want = Oracle.topK(docsDF, q, Int.MaxValue).filter(col("score") >= lit(t))
      .orderBy(col("score").desc, col("docId").asc).limit(10)
      .as[Scored].collect().toSeq
    assert(got == want)
    assert(warmed.searchMinScore(q, 10, t).toSeq == got)
    // degenerate thresholds
    assert(searcher.searchMinScore(q, 10, Double.MaxValue).isEmpty)
    assert(searcher.searchMinScore(q, 10, 0.0).toSeq == plain.toSeq)
  }

  test("completion suggester: prefix completions by popularity (round-8)") {
    def want(p: String, k: Int): Seq[(String, Long)] =
      tok.filter(col("term").startsWith(p)).groupBy(col("term"))
        .agg(count(lit(1)).as("w"))
        .orderBy(col("w").desc, col("term").asc).limit(k)
        .as[(String, Long)].collect().toSeq
    for (p <- Seq("t", "z", "th")) {
      val got = searcher.suggestCompletion(p, 5).as[(String, Long)].collect().toSeq
      assert(got == want(p, 5), s"prefix '$p'")
      assert(warmed.suggestCompletion(p, 5).as[(String, Long)].collect().toSeq == got,
        s"warm prefix '$p'")
    }
    // the fixture exercises the cap (vocab has > 5 t-prefixed terms)
    assert(searcher.suggestCompletion("t", 5).count() == 5)
    assert(searcher.suggestCompletion("t", 5000).count() > 5)
    // unknown prefix → empty; un-analyzable prefix → empty (not a scan)
    assert(searcher.suggestCompletion("qqqzzz", 5).count() == 0)
    assert(searcher.suggestCompletion("#", 5).count() == 0)
    // keyword/tier/fielded-text namespaces never surface: every
    // suggestion is a bare analyzed token
    val all = searcher.suggestCompletion("t", 5000).as[(String, Long)].collect()
    assert(all.forall { case (s, _) => !s.startsWith("#") && !s.startsWith("%") })
    intercept[IllegalArgumentException] { searcher.suggestCompletion("t", 0) }
  }

  test("function_score decay: closed-form contract points; rescore window ≡ oracle (round-8)") {
    // contract: multiplier is 1 at origin(±offset) and exactly `decay`
    // at distance offset+scale, on EVERY shape
    val probe = Seq(0.0, 500.0, 1000.0, 1500.0, 2000.0, 9000.0).toDF("v")
    for (shape <- Seq("gauss", "exp", "linear")) {
      val m = probe.select(col("v"), graft.query.FunctionScore.decayMultiplier(
        col("v"), shape, origin = 1000.0, scale = 500.0, offset = 0.0,
        decay = 0.4).as("m")).as[(Double, Double)].collect().toMap
      assert(math.abs(m(1000.0) - 1.0) < 1e-12, s"$shape at origin")
      assert(math.abs(m(500.0) - 0.4) < 1e-12 && math.abs(m(1500.0) - 0.4) < 1e-12,
        s"$shape at origin ± scale")
      assert(m(0.0) < 0.4 && m(2000.0) < 0.4, s"$shape decays past scale")
    }
    // linear clamps to exactly 0 past scale/(1-decay); gauss/exp never reach 0
    val far = Seq(9000.0).toDF("v").select(graft.query.FunctionScore.decayMultiplier(
      col("v"), "linear", 1000.0, 500.0, 0.0, 0.4)).as[Double].head()
    assert(far == 0.0)
    // offset: flat multiplier 1 within ±offset of origin
    val off = Seq(900.0, 1100.0).toDF("v").select(graft.query.FunctionScore.decayMultiplier(
      col("v"), "gauss", 1000.0, 500.0, 200.0, 0.4)).as[Double].collect()
    assert(off.forall(_ == 1.0))
    intercept[IllegalArgumentException] {
      graft.query.FunctionScore.decayMultiplier(col("v"), "sigmoid", 0, 1, 0, 0.5)
    }

    // rescore window ≡ oracle: top-`window` BM25 hits re-ranked by
    // bm25 · gauss(ts) — same shared multiplier column, so equality is
    // exact; docs outside the window cannot enter
    val origin = docsDF.agg(max(unix_millis(col("ts")))).head().getLong(0).toDouble
    val scale = 6.0 * 3600000.0
    val window = 30
    val want = Oracle.topK(docsDF, "the zanzibar", window)
      .join(docsDF.select(col("docId"), col("ts")), Seq("docId"))
      .select(col("docId"), (col("score") * graft.query.FunctionScore.decayMultiplier(
        unix_millis(col("ts")).cast("double"), "gauss", origin, scale, 0.0, 0.5))
        .as("score"))
      .orderBy(col("score").desc, col("docId").asc).limit(10)
      .as[(Long, Double)].collect().toSeq
    val got = searcher.rescoreByDecay("the zanzibar", 10, window, "ts", "gauss",
      origin, scale).as[(Long, Double)].collect().toSeq
    assert(got == want && got.nonEmpty)
    // recency re-rank actually changes the BM25 order
    assert(got.map(_._1) != searcher.search("the zanzibar", 10).map(_.docId).toSeq)
    // ES contract: a null field value without `missing` fails loudly;
    // with `missing` it substitutes (all ts non-null here, so equality)
    assert(searcher.rescoreByDecay("the zanzibar", 10, window, "ts", "gauss",
      origin, scale, missing = Some(origin)).as[(Long, Double)].collect().toSeq == got)
  }

  test("composite aggregation: after-pages tile the bucket stream exactly (round-8)") {
    val lv = Seq(graft.query.TermsLevel("role", "k1"),
      graft.query.TermsLevel("dl", "k2"))
    val allBuckets = searcher.compositeAgg("the", lv, size = 100000)
      .as[(String, Int, Long)].collect().toSeq
    assert(allBuckets.size > 10)
    // deterministic keys-asc order
    assert(allBuckets == allBuckets.sortBy { case (a, b, _) => (a, b) })
    // page through with the after cursor: pages are disjoint, exhaustive,
    // and concatenate to the full stream in order (the ES after_key walk)
    val paged = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long)]
    var cursor: Option[Seq[Any]] = None
    var n = 0
    while ({
      val page = searcher.compositeAgg("the", lv, size = 7, after = cursor)
        .as[(String, Int, Long)].collect().toSeq
      n += 1
      paged ++= page
      cursor = page.lastOption.map { case (a, b, _) => Seq(a, b) }
      page.size == 7 && n < 1000
    }) ()
    assert(paged.toSeq == allBuckets)
    // composite respects the bool filter context like every agg
    val fAll = searcher.compositeAgg(BoolQuerySpec("the", filters = Seq("role" -> "user")), lv,
      100000)
      .as[(String, Int, Long)].collect().toSeq
    assert(fAll.nonEmpty && fAll.forall(_._1 == "user"))
    // a stat field adds the metric columns per bucket
    val withStats = searcher.compositeAgg("the", lv, 5, statField = Some("dl"))
    assert(withStats.columns.toSeq ==
      Seq("k1", "k2", "n_docs", "min", "max", "avg", "sum"))
    intercept[IllegalArgumentException] {
      searcher.compositeAgg("the", lv, 5, after = Some(Seq("user"))) // arity
    }
  }

  test("pipeline aggregations: derivative / cumulative_sum / bucket_script over one bucket frame (round-8)") {
    val lv = Seq(graft.query.TermsLevel("role", "role"),
      graft.query.HistogramLevel("dl", 20L, "bucket"))
    val buckets = searcher.compositeAgg("the", lv, 100000, statField = Some("dl"))
    val out = graft.query.Aggs.bucketScript(
      graft.query.Aggs.cumulativeSum(
        graft.query.Aggs.derivative(buckets, Seq("role"), "bucket", "n_docs", "deriv"),
        Seq("role"), "bucket", "n_docs", "cum"),
      "avg_dl", round(col("sum") / col("n_docs"), 6))
      .select(col("role"), col("bucket"), col("n_docs"), col("deriv"),
        col("cum"), col("avg_dl"), col("sum"))
      .orderBy(col("role"), col("bucket"))
      .as[(String, Long, Long, Option[Long], Long, Double, Long)].collect().toSeq
    assert(out.size > 4)
    // hand-recompute the window math per role group from the bucket frame
    val byRole = out.groupBy(_._1)
    for ((_, rows0) <- byRole) {
      val rows = rows0.sortBy(_._2)
      // first bucket's derivative is NULL (ES omits it), then exact diffs
      assert(rows.head._4.isEmpty)
      for (i <- 1 until rows.size)
        assert(rows(i)._4.contains(rows(i)._3 - rows(i - 1)._3))
      // running sum is exact and ends at the group total
      val cums = rows.scanLeft(0L)(_ + _._3).tail
      assert(rows.map(_._5) == cums)
      // bucket_script arithmetic per row
      for (r <- rows)
        assert(r._6 == BigDecimal(r._7.toDouble / r._3)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("pipeline aggregations: moving_avg / serial_diff / stats_bucket (round-8)") {
    val lv = Seq(graft.query.TermsLevel("role", "role"),
      graft.query.HistogramLevel("dl", 20L, "bucket"))
    val buckets = searcher.compositeAgg("the", lv, 100000, statField = Some("dl"))
    val out = graft.query.Aggs.serialDiff(
      graft.query.Aggs.movingAvg(buckets, Seq("role"), "bucket", "n_docs", 3, "mov3"),
      Seq("role"), "bucket", "n_docs", 2, "sdiff2")
      .select(col("role"), col("bucket"), col("n_docs"), col("mov3"), col("sdiff2"))
      .orderBy(col("role"), col("bucket"))
      .as[(String, Long, Long, Double, Option[Long])].collect().toSeq
    assert(out.size > 4)
    for ((_, rows0) <- out.groupBy(_._1)) {
      val rows = rows0.sortBy(_._2)
      for (i <- rows.indices) {
        val win = rows.slice(math.max(0, i - 2), i + 1).map(_._3)
        assert(rows(i)._4 == win.sum.toDouble / win.size,
          s"mov3 at $i: ${rows(i)._4} vs window $win")
        val want = if (i < 2) None else Some(rows(i)._3 - rows(i - 2)._3)
        assert(rows(i)._5 == want, s"sdiff2 at $i")
      }
    }
    // stats_bucket: one row, subsuming min/max/sum/avg_bucket
    val st = graft.query.Aggs.statsBucket(buckets, "n_docs")
      .as[(Long, Long, Long, Double, Long)].head()
    val counts = out.map(_._3)
    assert(st == ((counts.size.toLong, counts.min, counts.max,
      counts.sum.toDouble / counts.size, counts.sum)))
    // guards
    intercept[IllegalArgumentException] {
      graft.query.Aggs.movingAvg(buckets, Seq("role"), "bucket", "n_docs", 0, "m")
    }
    intercept[IllegalArgumentException] {
      graft.query.Aggs.serialDiff(buckets, Seq("role"), "bucket", "n_docs", 0, "s")
    }
  }

  test("scrollAll: the full scored match set ≡ the exhaustive oracle, no limit in the plan (round-8)") {
    val q = "the zanzibar quasar"
    val got = searcher.scrollAll(q)
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    val want = graft.query.Oracle.topK(docsDF, q, Int.MaxValue)
      .select(col("docId"), col("score")).as[(Long, Double)]
      .collect().toSeq.sortBy(_._1)
    assert(got == want && got.size > 100)
    // a bulk-export plan must not cap or globally sort anything
    val plan = searcher.scrollAll(q).queryExecution.executedPlan.toString
    assert(!plan.contains("TakeOrderedAndProject") && !plan.contains("GlobalLimit"),
      s"unexpected cap in:\n$plan")
    assert(searcher.scrollAll("qqqzzz").count() == 0)
  }

  /** Spark jobs `body` starts on the calling thread (job-group scoped). */
  private def jobsOf(body: => Unit): Int = {
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
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
      try body finally sc.clearJobGroup()
      org.apache.spark.sql.GraftSqlBridge.waitListenerBus(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("early-empty rules: each gives empty through searchBool, searchManyBool alone and batched") {
    val absent = "zzqxabsent"
    // one row per rule: without its rule, each row returns hits or runs a
    // top-k job (runGroup re-checks some rules per group)
    val rows: Seq[(String, BoolQuerySpec)] = Seq(
      "required AND term absent" -> BoolQuerySpec(s"the $absent", conjunctive = true),
      "required phrase term absent" -> BoolQuerySpec(s"the $absent", phrase = true),
      "filter clause with no value present" ->
        BoolQuerySpec("the", filters = Seq("role" -> "no-such-value")),
      "every scored term absent" -> BoolQuerySpec(absent, should = "the"),
      "fewer found shoulds than minShouldMatch" ->
        BoolQuerySpec("the", should = s"zanzibar $absent", minShouldMatch = 2),
      "no scored or should term" -> BoolQuerySpec("", filters = Seq("role" -> "user")),
      "phrase without tokens" -> BoolQuerySpec("", phrase = true, should = "the"))
    val matching = BoolQuerySpec("the zanzibar")
    def bool(s: Searcher, sp: BoolQuerySpec): Array[Scored] =
      s.searchBool(sp.query, 10, filters = sp.filters, conjunctive = sp.conjunctive,
        phrase = sp.phrase, should = sp.should, minShouldMatch = sp.minShouldMatch)
    for (s <- Seq(searcher, warmed)) {
      val want = s.search("the zanzibar", 10).toSeq
      assert(want.nonEmpty)
      for ((rule, sp) <- rows) {
        assert(bool(s, sp).isEmpty, s"searchBool: $rule")
        assert(s.searchManyBool(Seq(sp), 10).head.isEmpty, s"searchManyBool alone: $rule")
        val batch = s.searchManyBool(Seq(sp, matching), 10)
        assert(batch.head.isEmpty && batch(1).toSeq == want, s"searchManyBool batched: $rule")
      }
      assert(s.searchPhrasePrefix(s"the $absent", 10).isEmpty, "phrase prefix: no expansion")
    }
    // a query found empty on the driver runs no top-k job: the distributed
    // searcher at most looks its terms up (a lookup is one job for any
    // terms; the rules that need no dictionary skip it)
    val lookupJobs = jobsOf(searcher.lookupTerms(Seq("the", "zanzibar")))
    for ((rule, sp) <- rows) {
      bool(searcher, sp) // one-time lazy set-up
      assert(jobsOf(bool(searcher, sp)) <= lookupJobs, s"searchBool jobs: $rule")
      assert(jobsOf(searcher.searchManyBool(Seq(sp), 10)) <= lookupJobs,
        s"searchManyBool jobs: $rule")
    }
    // match_phrase_prefix without an expansion costs only the expansion
    // scan, like a prefix query expanding to nothing
    searcher.searchPhrasePrefix(s"the $absent", 10)
    assert(jobsOf(searcher.searchPhrasePrefix(s"the $absent", 10)) ==
      jobsOf(searcher.searchPrefix(absent, 10)), "phrase prefix jobs: no expansion")
  }

  test("invalid paging input fails loudly: negative k or from (warm, distributed, batched)") {
    for (s <- Seq(searcher, warmed)) {
      intercept[IllegalArgumentException](s.search("the", 10, from = -5))
      intercept[IllegalArgumentException](s.search("the", -1))
      intercept[IllegalArgumentException](s.searchConjunctive("the a", 10, from = -1))
      intercept[IllegalArgumentException](s.searchPhrase("the a", -3))
      intercept[IllegalArgumentException](s.searchBool("the", 10, from = -1))
      intercept[IllegalArgumentException](s.searchBool("the", -2))
      intercept[IllegalArgumentException](s.searchManyBool(Seq(BoolQuerySpec("the")), -1))
      intercept[IllegalArgumentException](
        s.searchManyBool(Seq(BoolQuerySpec("the"), BoolQuerySpec("a")), -1))
      // k = 0 stays a valid, empty request
      assert(s.search("the", 0).isEmpty)
      assert(s.searchManyBool(Seq(BoolQuerySpec("the"), BoolQuerySpec("a")), 0).forall(_.isEmpty))
    }
  }

  test("every match-set operator honors its BoolQuerySpec; scoring-only options fail loudly") {
    import graft.query.TermsLevel
    // every doc has exactly one of the three roles, so these two specs
    // select the same docs through different clause kinds
    assert(docsDF.filter(!col("role").isin("user", "assistant", "tool")).isEmpty)
    val user = BoolQuerySpec("the", filters = Seq("role" -> "user"))
    val notOthers = BoolQuerySpec("the", mustNot = Seq("role" -> "assistant", "role" -> "tool"))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val ops: Seq[(String, BoolQuerySpec => Seq[String])] = Seq(
      "searchConstantScore" -> (q => rows(searcher.searchConstantScore(q, 10))),
      "collapse" -> (q => rows(searcher.collapse(q, "dl", 10))),
      "facetCounts" -> (q => rows(searcher.facetCounts(q, "role"))),
      "rangesAgg" -> (q => rows(searcher.rangesAgg(q, "dl",
        Seq((None, Some(40L)), (Some(40L), None))))),
      "matchCount" -> (q => Seq(searcher.matchCount(q).toString)),
      "numericHistogram" -> (q => rows(searcher.numericHistogram(q, "dl", 20L))),
      "dateHistogram" -> (q => rows(searcher.dateHistogram(q, "ts", "month"))),
      "fieldStats" -> (q => rows(searcher.fieldStats(q, "dl"))),
      "searchSortedBy" -> (q => rows(searcher.searchSortedBy(q, "dl", 10))),
      "facetStats" -> (q => rows(searcher.facetStats(q, "role", "dl"))),
      "nestedAgg" -> (q => rows(searcher.nestedAgg(q, Seq(TermsLevel("role", "r")), Some("dl")))),
      "compositeAgg" -> (q => rows(searcher.compositeAgg(q, Seq(TermsLevel("role", "r")), 10))),
      "cardinality" -> (q => Seq(searcher.cardinality(q, "role").toString)),
      "percentiles" -> (q => rows(searcher.percentiles(q, "dl", Seq(0.1, 0.5, 0.9)))),
      "facetTopHits" -> (q => rows(searcher.facetTopHits(q, "role", "dl", 3))),
      "filtersAgg" -> (q => rows(searcher.filtersAgg(q,
        Seq("u" -> ("role" -> "user"), "a" -> ("role" -> "assistant"))))),
      "significantTerms" -> (q => rows(searcher.significantTerms(q, 10, minDocCount = 1L))))
    for ((op, run) <- ops) {
      val got = run(user)
      assert(run(notOthers) == got, s"$op: two specs of one membership differ")
      assert(got != run(BoolQuerySpec("the")), s"$op: the spec's clauses changed nothing")
    }
    val rejected = Seq(
      BoolQuerySpec("the", conjunctive = true), BoolQuerySpec("the", phrase = true),
      BoolQuerySpec("the", should = "zanzibar"), BoolQuerySpec("the", minShouldMatch = 1),
      BoolQuerySpec("the", field = "tool"),
      BoolQuerySpec("the", multiMatchFields = Seq("text" -> 1.0)))
    for (sp <- rejected; (op, run) <- ops)
      withClue(s"$op($sp): ")(intercept[IllegalArgumentException](run(sp)))
    // must_not over analyzed text: the count drops by exactly the docs
    // that hold the token
    val holding = tok.filter(col("term") === "the").select("docId")
      .join(tok.filter(col("term") === "zanzibar").select("docId"), Seq("docId")).count()
    assert(holding > 0)
    assert(searcher.matchCount("the") - holding ==
      searcher.matchCount(BoolQuerySpec("the", mustNotText = Seq("text" -> "zanzibar"))))
  }
}
