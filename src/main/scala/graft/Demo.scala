package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.Transcripts
import graft.index.{DocIds, IndexBuilder, IndexConfig}
import graft.query.{BoolQuerySpec, Oracle, Searcher}

/** Demo / smoke CLI: builds the full index over the seed-42 synthetic
  * transcript corpus and runs a few BM25 queries through the WAND path,
  * cross-checking one against the exhaustive oracle.
  *
  * Usage: sbt "runMain graft.Demo [nConvs] [query...]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toLong).getOrElse(2000L)
    val query = if (args.length > 1) args.drop(1).mkString(" ") else "zanzibar quasar lattice"
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val indexDir = java.nio.file.Files.createTempDirectory("graft-demo-index").toString
    // role is a keyword filter field; 'opener' (the turn's first 4
    // tokens) is a SECOND analyzed text field with its own BM25 stats
    val cfg = IndexConfig(numBuckets = 4, numShards = 8, partitions = 8,
      fieldCols = Seq("role", "tool"), numericFieldCols = Seq("dl"),
      textFieldCols = Seq("opener"))

    println(s"== building index over $nConvs conversations -> $indexDir")
    val t0 = System.nanoTime()
    import org.apache.spark.sql.functions._
    val docs = DocIds.dedupAndAssign(Transcripts.generate(spark, nConvs), 8)
      .toDF()
      .withColumn("opener", array_join(slice(
        graft.analysis.Analyzer.tokensCol(col("text")), lit(1), lit(4)), " "))
    val report = new IndexBuilder(spark, indexDir, "demo-snap-1", cfg).buildFrom(docs)
    val buildSec = (System.nanoTime() - t0) / 1e9
    println(f"== built: N=${report.n} avgdl=${report.avgdl}%.2f vocab=${report.vocab} " +
      f"postings=${report.postings} bytes=${report.bytesCompressed} " +
      f"(${report.bytesCompressed.toDouble / math.max(1, report.postings)}%.2f B/posting) " +
      f"in $buildSec%.1f s (${report.n / buildSec}%.0f turns/s)")

    val searcher = new Searcher(spark, indexDir, cfg.numShards)
    for (q <- Seq(query, "the", "one have t999", "totally-oov-term", "!!! ...")) {
      val t1 = System.nanoTime()
      val hits = searcher.search(q, 10)
      val ms = (System.nanoTime() - t1) / 1e6
      println(f"== query '$q' -> ${hits.length} hits in $ms%.0f ms")
      hits.take(5).foreach(h => println(f"   doc=${h.docId}%6d score=${h.score}%.6f"))
    }

    println(s"== resolved hits for '$query':")
    searcher.searchResolved(query, 5).show(false)

    // the ES-response surface: phrase, bool filter, facets, field sort,
    // hit count, highlighting — all over the same index
    val twoTerm = query.split(' ').take(2).mkString(" ")
    println(s"== phrase '$twoTerm' -> ${searcher.searchPhrase(twoTerm, 10).length} hits; " +
      s"reversed -> ${searcher.searchPhrase(twoTerm.split(' ').reverse.mkString(" "), 10).length}")
    val filtered = searcher.searchBool(query, 10, filters = Seq("role" -> "assistant"))
    println(s"== bool filter role=assistant -> ${filtered.length} hits " +
      s"(scores = unfiltered BM25 of survivors)")
    println("== facets by role over the full match set:")
    searcher.facetCounts(query, "role").show(false)
    println(s"== total hits (ES hits.total): ${searcher.matchCount(query)}")
    println("== top hit highlighted:")
    searcher.searchHighlighted(query, 1).select("docId", "fragment").show(false)

    // round-4 surface: proximity, should/min_should_match, pagination,
    // histogram/stats aggs
    println(s"== proximity 'the a' slop 0/1/3 -> " +
      Seq(0, 1, 3).map(s => searcher.searchPhrase("the a", 10000, slop = s).length)
        .mkString("/") + " hits (ordered window widens monotonically)")
    val boosted = searcher.searchBool(query, 5, should = "the")
    println(s"== should-boosted '$query' + should 'the' -> top docId " +
      s"${boosted.headOption.map(_.docId).getOrElse(-1L)} " +
      s"(vs plain ${searcher.search(query, 5).headOption.map(_.docId).getOrElse(-1L)})")
    println(s"== minimum_should_match 2 of 'the a of to' -> " +
      s"${searcher.searchBool("", 5, should = "the a of to", minShouldMatch = 2).length} hits")
    val p1 = searcher.search("the", 5)
    val p2 = searcher.searchAfter("the", 5, p1.last)
    println(s"== pagination: page1 ends at doc ${p1.last.docId}, " +
      s"search_after continues with doc ${p2.headOption.map(_.docId).getOrElse(-1L)} " +
      s"(= from=5 page: ${searcher.search("the", 5, from = 5).headOption.map(_.docId).getOrElse(-1L)})")
    println("== dl histogram (width 20) over the 'the' match set:")
    searcher.numericHistogram("the", "dl", 20).show(5, truncate = false)
    println("== dl stats over the 'the' match set, filtered role=user:")
    searcher.fieldStats(BoolQuerySpec("the", filters = Seq("role" -> "user")), "dl").show(false)

    // round-5 surface: per-field match, multi_match, sub-aggregation
    println(s"== fielded match 'the' over the 'opener' field (per-field BM25 stats) -> " +
      s"${searcher.searchField("opener", "the", 10).length} hits; " +
      s"fieldstats = ${searcher.fieldStatsMap.map { case (f, (n, ad)) =>
        f"$f: docCount=$n avgdl=$ad%.2f" }.mkString(", ")}")
    val mm = searcher.multiMatch("the", Seq("text" -> 1.0, "opener" -> 2.0), 3)
    println(s"== multi_match 'the' (text x1 + opener x2) top scores: " +
      mm.map(h => f"${h.score}%.4f").mkString(", "))
    println("== sub-aggregation: dl stats per role bucket of the 'the' match set:")
    searcher.facetStats("the", "role", "dl").show(false)

    // round-6 surface: exists/missing, query_string, suggester,
    // significant_terms, more_like_this, top_hits
    println(s"== exists/missing on 'tool' (the _field_names marker): " +
      s"exists=${searcher.matchCount(BoolQuerySpec("the", exists = Seq("tool")))} " +
      s"missing=${searcher.matchCount(BoolQuerySpec("the", missing = Seq("tool")))} " +
      s"of ${searcher.matchCount("the")} matching docs")
    val qs = searcher.searchQueryString("the AND a role:user dl:[30 TO 80]", 3,
      graft.query.QueryString.Schema(keywordFields = Set("role"), numericFields = Set("dl")))
    println(s"== query_string 'the AND a role:user dl:[30 TO 80]' -> " +
      s"${qs.length} hits, top docId ${qs.headOption.map(_.docId).getOrElse(-1L)}")
    val sug = searcher.suggestTerms("thee", 3).collect()
    println(s"== suggest 'thee' -> " +
      sug.map(r => s"${r.getString(0)} (dist ${r.getInt(1)}, df ${r.getLong(2)})").mkString(", "))
    val sig = searcher.significantTerms(query, 5, minDocCount = 1L).collect()
    println(s"== significant_terms of '$query' (JLH vs dictionary background): " +
      sig.map(r => f"${r.getString(0)} ${r.getDouble(3)}%.2f").mkString(", "))
    val mltSrc = searcher.search(query, 1).headOption.map(_.docId).getOrElse(0L)
    println(s"== more_like_this(doc $mltSrc) -> top docIds " +
      searcher.moreLikeThis(mltSrc, 3).map(_.docId).mkString(", "))
    println("== top_hits: per-role top-2 by dl (pre-shuffle window group limit):")
    searcher.facetTopHits("the", "role", "dl", 2).show(6, truncate = false)

    // round-7 surface: regexp, match fuzziness, dis_max, nested aggs,
    // phrase suggester, multi-fragment highlight
    println(s"== regexp 'zanz.bar' -> ${searcher.searchRegexp("zanz.bar", 3).length} hits; " +
      s"match+fuzziness 'thee zanzibat' -> ${searcher.searchMatchFuzzy("thee zanzibat", 3).length} hits")
    val dm = searcher.searchDisMax(Seq("zanzibar quasar", "the"), 3, tieBreaker = 0.3)
    println(s"== dis_max([zanzibar quasar | the], tb=0.3) top scores: " +
      dm.map(h => f"${h.score}%.4f").mkString(", "))
    println("== nested agg tree (terms role -> date_histogram day -> dl stats), one rollup pass:")
    searcher.nestedAgg("the", Seq(
      graft.query.TermsLevel("role", "k1"),
      graft.query.DateHistLevel("ts", "day", "k2")), statField = Some("dl"))
      .show(6, truncate = false)
    val ps = searcher.phraseSuggest("thee zanzibat", 3, maxDist = 1).collect()
    println(s"== phrase_suggest 'thee zanzibat' (bigram doc-counts from positional postings): " +
      ps.map(r => s"'${r.getString(0)}' (${r.getLong(1)})").mkString(", "))
    val hl = searcher.searchHighlighted("zanzibar", 1, window = 2, numberOfFragments = 2)
      .select("fragments").collect()
    println(s"== multi-fragment highlight: " +
      hl.headOption.map(_.getSeq[String](0).mkString(" … ")).getOrElse("(none)"))

    // cross-segment LWW upsert + delete (streaming dir; re-ingested key
    // supersedes, deleted key vanishes; crash-atomic compaction)
    println("== cross-segment upsert/delete demo:")
    val segDir = java.nio.file.Files.createTempDirectory("graft-demo-segs").toString
    import spark.implicits._
    val cfgSeg = cfg.copy(textFieldCols = Nil) // plain Turn batches carry no 'opener'
    val base = Transcripts.generate(spark, math.min(nConvs, 100L))
    graft.streaming.StreamingIngest.appendSegment(spark, base, segDir, 0L, cfgSeg)
    val upd = Seq(graft.model.Turn("conv-00000003", 1, "user",
      "replacement text without any marker words", None,
      new java.sql.Timestamp(1767312000000L))).toDS()
    graft.streaming.StreamingIngest.appendSegment(spark, upd, segDir, 1L, cfgSeg)
    val nDel = graft.streaming.StreamingIngest.deleteTurns(spark, segDir,
      Seq(("conv-00000017", 0)))
    val multi = new graft.query.MultiSearcher(spark, segDir)
    println(s"   re-ingested (conv-3, 1) and deleted (conv-17, 0) [$nDel doc] -> " +
      s"'zanzibar quasar lattice' now ${multi.search("zanzibar quasar lattice", 10).length} hits " +
      s"(was 2); LWW corpus N=${multi.n}")
    val rep = graft.index.Compaction.compactInPlace(spark, segDir)
    val afterCompact = new graft.query.MultiSearcher(spark, segDir)
    println(s"   crash-atomic compactInPlace -> ${rep.segments} segs merged, N=${rep.n}; " +
      s"post-compaction hits ${afterCompact.search("zanzibar quasar lattice", 10).length} (unchanged)")

    println("== oracle cross-check (exhaustive scorer, no index):")
    val oracle = Oracle.topK(spark.read.parquet(s"$indexDir/docs"), query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wand = searcher.search(query, 10).map(s => (s.docId, s.score)).toSeq
    println(if (oracle == wand) "   RANK-IDENTICAL (docIds and scores match exactly)"
            else s"   MISMATCH!\n   oracle=$oracle\n   wand  =$wand")

    spark.stop()
  }
}
