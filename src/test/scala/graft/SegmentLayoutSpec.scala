package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.corpus.Transcripts
import graft.index.{Compaction, DocIds, IndexBuilder, IndexConfig, Tombstones}
import graft.model.{Scored, Turn}
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

  test("a built, a streamed and a compacted segment hold the same stores: no stats/, no dict0/") {
    val lcfg = cfg.copy(textFieldCols = Seq("tool"))
    val turns = Transcripts.generate(spark, 30L).cache()
    val built = s"${TestSpark.tmpRoot}/layout-entries-built"
    new IndexBuilder(spark, built, "snap-entries", lcfg)
      .build(DocIds.assign(DocIds.dedup(turns), lcfg.partitions))
    val stream = s"${TestSpark.tmpRoot}/layout-entries-stream"
    StreamingIngest.appendSegment(spark, turns.filter($"conv_id" < "conv-00000015"), stream, 0L, lcfg)
    StreamingIngest.appendSegment(spark, turns.filter($"conv_id" >= "conv-00000015"), stream, 1L, lcfg)
    val fs = new org.apache.hadoop.fs.Path(built).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries(dir: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName).toSeq.sorted
    val stores = Seq("blocks", "dict", "docs", "fieldstats", "format.props", "manifest")
    val segment = (stores :+ "keybloom.bin").sorted
    assert(entries(built) == stores)
    assert(entries(s"$stream/seg-0") == segment)
    assert(entries(s"$built/manifest") ==
      Seq("bucket-0.props", "bucket-1.props", "dict0.props", "docs.props", "fieldstats.props"))
    Compaction.compactInPlace(spark, stream)
    val compacted = new MultiSearcher(spark, stream).segments
    assert(compacted.size == 1)
    assert(entries(compacted.head) == segment)
    assert(entries(s"${compacted.head}/manifest") ==
      Seq("bucket-0.props", "bucket-1.props", "bucket-2.props", "bucket-3.props", "dict0.props",
        "docs.props"))
    turns.unpersist()
  }

  test("a micro-batch is one partition: 1 docs file, ≤ numShards block files, 1 file per tombstone append") {
    val scfg = IndexConfig(numBuckets = 1, numShards = 8, partitions = 4, fieldCols = Seq("role"))
    val turns = Transcripts.generate(spark, 200L).cache()
    val idx = s"${TestSpark.tmpRoot}/layout-microbatch"
    StreamingIngest.appendSegment(spark, turns, idx, 0L, scfg)
    val seg0 = s"$idx/seg-0"
    assert(parquetFiles(s"$seg0/docs") == 1)
    assert(cellKey(seg0, "docs", "parts") == "1")
    assert(parquetFiles(s"$seg0/blocks") <= scfg.numShards)
    assert(cellKey(seg0, "bucket-0", "parts") == "1")
    // every 10th conversation's first turn, re-ingested: keys spread over
    // the whole docId range of seg-0
    val every10th = turns.filter(substring($"conv_id", 13, 1) === "0" && $"turn_idx" === 0)
    val upserts = every10th.withColumn("text", lit("rewritten zanzibar turn")).as[Turn]
    StreamingIngest.appendSegment(spark, upserts, idx, 1L, scfg)
    assert(Tombstones.listDataFiles(spark, idx).size == 1)
    val deletes = turns.filter(substring($"conv_id", 13, 1) === "5" && $"turn_idx" === 1)
      .select($"conv_id", $"turn_idx").as[(String, Int)].collect().toSeq
    // conv-00000010/0 matches its live copy in seg-1 and, again, its
    // superseded one in seg-0
    assert(StreamingIngest.deleteTurns(spark, idx, deletes :+ ("conv-00000010" -> 0)) ==
      deletes.size + 2)
    assert(Tombstones.listDataFiles(spark, idx).size == 2)
    val m = new MultiSearcher(spark, idx)
    assert(m.n == turns.count() - deletes.size - 1)
    for (q <- Seq("rewritten zanzibar", "the zanzibar", "one have t999"))
      assert(m.search(q, 10).toSeq == hits(Oracle.topK(m.docs, q, 10)), q)
    // a build above the floor keeps cfg.partitions: docs files and slices
    val big = s"${TestSpark.tmpRoot}/layout-above-floor"
    val bcfg = scfg.copy(partitions = 2)
    val docs = DocIds.assign(DocIds.dedup(Transcripts.generate(spark, 1000L)), bcfg.partitions)
    assert(docs.count() > bcfg.partitions * IndexBuilder.DocsPerPart)
    new IndexBuilder(spark, big, "snap-above", bcfg).build(docs)
    assert(parquetFiles(s"$big/docs") == bcfg.partitions)
    assert(cellKey(big, "docs", "parts") == bcfg.partitions.toString)
    assert(cellKey(big, "bucket-0", "parts") == bcfg.partitions.toString)
    docs.unpersist(blocking = false)
    turns.unpersist()
  }

  test("a hot term is cut into docId slices, one per partition of its bucket") {
    // 3,000 three-token docs: "omni" is in all of them, so its df reaches
    // the hot threshold; the seam lifts the block phase to cfg.partitions
    val hcfg = IndexConfig(numBuckets = 1, numShards = 2, blockSize = 16, partitions = 4)
    val ts = new java.sql.Timestamp(0L)
    val docs = DocIds.assign((0 until 3000).map(i =>
      Turn(f"conv-$i%08d", 0, "user", s"omni w${i % 50} v${i % 7}", None, ts)).toDS(), 4)
    val dir = s"${TestSpark.tmpRoot}/layout-hot-slices"
    new IndexBuilder(spark, dir, "snap-hot", hcfg) {
      override protected def docsPerPart: Long = 1L
    }.build(docs)
    assert(cellKey(dir, "bucket-0", "parts") == "4")
    val termId = spark.read.parquet(s"$dir/dict").filter($"term" === "omni")
      .select("termId").as[Long].head()
    def slices(id: Long): Array[(Long, Long)] =
      spark.read.parquet(s"$dir/blocks").filter($"termId" === id)
        .groupBy(col("_metadata.file_path"))
        .agg(min($"firstDocId"), max($"lastDocId")).select("min(firstDocId)", "max(lastDocId)")
        .as[(Long, Long)].collect().sortBy(_._1)
    // the hot term: one docId slice per partition, disjoint and in order
    val hot = slices(termId)
    assert(hot.length == 4, hot.toSeq)
    hot.sliding(2).foreach { case Array(a, b) => assert(a._2 < b._1, hot.toSeq) }
    // a cold term stays whole in one partition
    val cold = spark.read.parquet(s"$dir/dict").filter($"term" === "w7").select("termId").as[Long].head()
    assert(slices(cold).length == 1)
    val s = new Searcher(spark, dir, hcfg.numShards)
    val all = spark.read.parquet(s"$dir/docs")
    for (q <- Seq("omni", "omni w7", "v3 omni w12"))
      assert(s.search(q, 10).toSeq == hits(Oracle.topK(all, q, 10)), q)
    assert(s.searchPhrase("omni w7", 10).toSeq == hits(Oracle.topKPhrase(all, "omni w7", 10)))
    docs.unpersist(blocking = false)
  }
}
