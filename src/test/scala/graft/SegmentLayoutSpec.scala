package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.corpus.Transcripts
import graft.index.{Compaction, DocIds, IndexBuilder, IndexConfig}
import graft.model.Scored
import graft.query.{BoolQuerySpec, MultiSearcher, Oracle, Searcher}
import graft.streaming.StreamingIngest

/** One searcher core, two on-disk layouts: a single built index opens as
  * one segment without tombstones, a streaming dir as its live `seg-*`
  * segments plus tombstones. Both must answer like the exhaustive oracle
  * over the visible corpus, on the warm-local and the distributed path.
  */
class SegmentLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = IndexConfig(numBuckets = 2, numShards = 8, blockSize = 32, partitions = 4,
    fieldCols = Seq("role", "tool"))

  private def hits(df: DataFrame): Seq[Scored] = df.as[Scored].collect().toSeq

  test("layout parity: single index ≡ streaming dir compacted to one segment") {
    val nConvs = 120L
    val turns = Transcripts.generate(spark, nConvs).cache()
    val single = s"${TestSpark.tmpRoot}/layout-single"
    new IndexBuilder(spark, single, "snap-layout", cfg)
      .build(DocIds.assign(DocIds.dedup(turns), cfg.partitions))
    val stream = s"${TestSpark.tmpRoot}/layout-stream"
    StreamingIngest.appendSegment(spark, turns.filter($"conv_id" < "conv-00000060"), stream, 0L, cfg)
    StreamingIngest.appendSegment(spark, turns.filter($"conv_id" >= "conv-00000060"), stream, 1L, cfg)
    Compaction.compactInPlace(spark, stream)
    assert(new MultiSearcher(spark, stream).segments.size == 1)

    val docs = spark.read.parquet(s"$single/docs").cache()
    // same corpus, same docIds: the two layouts are comparable hit for hit
    val keys = docs.select("docId", "conv_id", "turn_idx").as[(Long, String, Int)]
      .collect().toSet
    assert(new MultiSearcher(spark, stream).docs.select("docId", "conv_id", "turn_idx")
      .as[(Long, String, Int)].collect().toSet == keys)

    val queries = Seq("the", "zanzibar quasar lattice", "the zanzibar", "one have t999",
      "t10 t11 t12 t13", "definitely-notavocab-word")
    val phrases = Seq("zanzibar quasar", "cinnabar monolith", "quasar zanzibar")
    val specs = Seq(
      BoolQuerySpec(query = "the"),
      BoolQuerySpec(query = "the zanzibar", conjunctive = true),
      BoolQuerySpec(query = "zanzibar quasar", phrase = true),
      BoolQuerySpec(query = "one have", filters = Seq("role" -> "user")),
      BoolQuerySpec(query = "the a", mustNot = Seq("role" -> "user"),
        anyFilters = Seq("role" -> Seq("assistant", "tool"))))
    def answers(s: Searcher): Seq[Seq[Scored]] =
      queries.map(q => s.search(q, 10).toSeq) ++
        queries.map(q => s.searchConjunctive(q, 10).toSeq) ++
        phrases.map(q => s.searchPhrase(q, 10).toSeq) ++
        Seq("the", "one have").flatMap(q => Seq(
          s.searchBool(q, 10, filters = Seq("role" -> "user")).toSeq,
          s.searchBool(q, 10, mustNot = Seq("role" -> "user")).toSeq,
          s.searchBool(q, 10, filters = Seq("role" -> "tool"),
            mustNot = Seq("tool" -> "tool3")).toSeq)) ++
        s.searchManyBool(specs, 10).map(_.toSeq)

    val want = answers(new Searcher(spark, single, cfg.numShards))
    // the oracle pins the plain operators
    val oracle = queries.map(q => hits(Oracle.topK(docs, q, 10))) ++
      queries.map(q => hits(Oracle.topKConjunctive(docs, q, 10))) ++
      phrases.map(q => hits(Oracle.topKPhrase(docs, q, 10)))
    assert(want.take(oracle.size) == oracle)
    assert(want.exists(_.nonEmpty))
    // batched specs ≡ their standalone twins
    assert(want.takeRight(specs.size) == Seq(
      want(queries.indexOf("the")),
      want(queries.size + queries.indexOf("the zanzibar")),
      want(2 * queries.size + phrases.indexOf("zanzibar quasar")),
      new Searcher(spark, single, cfg.numShards)
        .searchBool("one have", 10, filters = Seq("role" -> "user")).toSeq,
      new Searcher(spark, single, cfg.numShards).searchBool("the a", 10,
        mustNot = Seq("role" -> "user"),
        anyFilters = Seq("role" -> Seq("assistant", "tool"))).toSeq))

    for ((name, s) <- Seq(
        "single warm-local" -> new Searcher(spark, single, cfg.numShards).warm(),
        "single distributed" -> new Searcher(spark, single, cfg.numShards)
          .warm(maxLocalBlockBytes = 0),
        "compacted warm-local" -> new MultiSearcher(spark, stream).warm(),
        "compacted distributed" -> new MultiSearcher(spark, stream)
          .warm(maxLocalBlockBytes = 0))) {
      val got = answers(s)
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"$name, answer $i:\n got=$g\n want=$w")
      }
    }
    docs.unpersist()
    turns.unpersist()
  }

  test("segment edge cases: a fully tombstoned segment, a term in one segment only") {
    val idx = s"${TestSpark.tmpRoot}/layout-edges"
    val all = Transcripts.generate(spark, 36L).cache()
    val batches = (0 until 3).map(b =>
      all.filter($"conv_id" >= f"conv-${b * 12}%08d" && $"conv_id" < f"conv-${b * 12 + 12}%08d"))
    // a token only segment 2 holds
    val marked = batches(2).withColumn("text",
      when($"turn_idx" === 0, concat($"text", lit(" xylophonic"))).otherwise($"text"))
      .as[graft.model.Turn]
    StreamingIngest.appendSegment(spark, batches(0), idx, 0L, cfg)
    StreamingIngest.appendSegment(spark, batches(1), idx, 1L, cfg)
    StreamingIngest.appendSegment(spark, marked, idx, 2L, cfg)
    // every doc of segment 1 is deleted; its files stay until compaction
    val doomed = batches(1).select("conv_id").distinct().as[String].collect().toSeq
    assert(StreamingIngest.deleteConvs(spark, idx, doomed) > 0)

    val liveKeys = batches(0).unionByName(marked)
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    for (s <- Seq(new MultiSearcher(spark, idx), new MultiSearcher(spark, idx).warm())) {
      assert(s.segments.size == 3)
      val live = s.docs.cache()
      assert(live.select("conv_id", "turn_idx").as[(String, Int)].collect().toSet == liveKeys)
      val row = live.agg(count(lit(1)), avg(Analyzer.dlCol(col("text")))).head()
      assert(s.n == row.getLong(0) && s.avgdl == row.getDouble(1))
      // "zanzibar" lives in segments 0 and 1 (dead); "xylophonic" in 2 only
      for (q <- Seq("xylophonic", "the xylophonic", "zanzibar quasar", "the zanzibar", "the")) {
        assert(s.search(q, 10).toSeq == hits(Oracle.topK(live, q, 10)), s"OR '$q'")
        assert(s.searchConjunctive(q, 10).toSeq == hits(Oracle.topKConjunctive(live, q, 10)),
          s"AND '$q'")
        val matched = Oracle.topK(live, q, Int.MaxValue).select("docId")
        val facetWant = live.join(matched, Seq("docId")).groupBy($"role".as("value"))
          .agg(count(lit(1)).as("n_docs")).orderBy("value").as[(String, Long)].collect().toSeq
        assert(s.facetCounts(q, "role").as[(String, Long)].collect().toSeq == facetWant,
          s"facets '$q'")
      }
      assert(s.search("xylophonic", 10).nonEmpty)
      live.unpersist()
    }
    all.unpersist()
  }
}
