package graft.query

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}
import graft.corpus.Transcripts
import graft.index.{DocIds, IndexBuilder, IndexConfig}
import graft.model.{Scored, Turn}
import graft.streaming.StreamingIngest

/** The warm in-process path runs ONE WAND per query over term-keyed,
  * docId-ordered lists that span every segment and bucket. On adversarial
  * corpora it must answer exactly like the distributed path (one WAND per
  * (segment, bucket) group) and the exhaustive [[Oracle]]; segments whose
  * docId ranges overlap fail `warm()` loudly; a warm query over several
  * tombstoned segments runs no Spark job; the local-serving budget counts
  * the decoded lists; and a store whose df corrections stay distributed
  * is served distributed.
  */
class WarmPathSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = IndexConfig(numBuckets = 4, numShards = 8, blockSize = 16, partitions = 4,
    fieldCols = Seq("role", "tool"))
  private val k = 10

  private def hits(df: DataFrame): Seq[Scored] = df.as[Scored].collect().toSeq

  private def convRange(turns: Dataset[Turn], lo: Int, hi: Int): Dataset[Turn] =
    turns.filter($"conv_id" >= f"conv-$lo%08d" && $"conv_id" < f"conv-$hi%08d")

  /** One streaming dir, one `seg-*` per batch (docIds offset per batch). */
  private def ingest(name: String, batches: Seq[Dataset[Turn]]): String = {
    val idx = s"${TestSpark.tmpRoot}/warm-path-$name"
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingIngest.appendSegment(spark, b, idx, i.toLong, cfg)
    }
    idx
  }

  /** OR / AND / phrase: warm (lists rescored under the merged stats) ≡
    * distributed ≡ Oracle over the live docs; bool queries: warm ≡
    * distributed. Returns the warm searcher.
    */
  private def assertParity(idx: String, queries: Seq[String], phrases: Seq[String]): Searcher = {
    val warm = new MultiSearcher(spark, idx).warm()
    val dist = new MultiSearcher(spark, idx).warm(maxLocalBlockBytes = 0)
    assert(warm.servesLocally)
    val live = dist.docs.cache()
    def same(what: String, w: Array[Scored], d: Array[Scored], oracle: DataFrame): Unit = {
      val want = hits(oracle)
      assert(d.toSeq == want, s"distributed $what")
      assert(w.toSeq == want, s"warm $what")
    }
    for (q <- queries) {
      same(s"OR '$q'", warm.search(q, k), dist.search(q, k), Oracle.topK(live, q, k))
      same(s"AND '$q'", warm.searchConjunctive(q, k), dist.searchConjunctive(q, k),
        Oracle.topKConjunctive(live, q, k))
    }
    for (p <- phrases)
      same(s"phrase '$p'", warm.searchPhrase(p, k), dist.searchPhrase(p, k),
        Oracle.topKPhrase(live, p, k))
    assert(queries.exists(q => warm.search(q, k).nonEmpty))
    assert(phrases.exists(p => warm.searchPhrase(p, k).nonEmpty))
    val specs = queries.flatMap(q => Seq(
      BoolQuerySpec(query = q, filters = Seq("role" -> "user")),
      BoolQuerySpec(query = q, mustNot = Seq("role" -> "user"),
        anyFilters = Seq("role" -> Seq("assistant", "tool"))),
      BoolQuerySpec(query = q, conjunctive = true, mustNot = Seq("tool" -> "tool3")),
      BoolQuerySpec(should = q, minShouldMatch = 1, filters = Seq("role" -> "assistant"))))
    val warmBool = warm.searchManyBool(specs, k).map(_.toSeq)
    assert(warmBool == dist.searchManyBool(specs, k).map(_.toSeq))
    assert(warmBool.exists(_.nonEmpty))
    for ((q, i) <- queries.zipWithIndex)
      assert(warm.searchBool(q, k, filters = Seq("role" -> "user")).toSeq == warmBool(4 * i),
        s"standalone bool '$q'")
    live.unpersist()
    warm
  }

  test("a term in every doc, 4 buckets, 3 tombstoned segments: rescored warm lists ≡ Oracle") {
    val all = Transcripts.generate(spark, 48L)
      .withColumn("text", concat($"text", lit(" omnipresent"))).as[Turn].cache()
    // batch 2 re-ingests batch 0's first turns with new text (LWW upsert
    // tombstones them in segment 0); whole conversations of batch 1 are
    // deleted
    val upserts = convRange(all, 0, 16).filter($"turn_idx" === 0)
      .withColumn("text", lit("omnipresent updated zanzibar quasar")).as[Turn]
    val idx = ingest("hot", Seq(convRange(all, 0, 16), convRange(all, 16, 32),
      convRange(all, 32, 48).unionByName(upserts)))
    assert(StreamingIngest.deleteConvs(spark, idx, Seq("conv-00000017", "conv-00000020")) > 0)
    val s = assertParity(idx,
      Seq("omnipresent", "the omnipresent", "omnipresent zanzibar quasar", "updated one have"),
      Seq("omnipresent updated", "zanzibar quasar", "updated zanzibar quasar"))
    assert(s.segments.size == 3)
    // every live doc, in every bucket of every segment, holds the hot term
    assert(s.search("omnipresent", Int.MaxValue).length == s.docs.count())
    all.unpersist()
  }

  test("one turn of 6,000 tokens: warm ≡ distributed ≡ Oracle") {
    val long = (0 until 6000).map { i =>
      if (i % 7 == 3) "zanzibar" else if (i % 13 == 5) "quasar" else s"t${i % 400}"
    }.mkString(" ")
    val all = Transcripts.generate(spark, 24L)
      .withColumn("text", when($"conv_id" === "conv-00000015" && $"turn_idx" === 1, lit(long))
        .otherwise($"text")).as[Turn].cache()
    val idx = ingest("long", Seq(convRange(all, 0, 12), convRange(all, 12, 24)))
    val s = assertParity(idx, Seq("zanzibar quasar", "t10 t11 t12", "quasar", "the t399"),
      Seq("t10 t11", "t398 t399 t0", "zanzibar quasar lattice"))
    assert(s.searchPhrase("t398 t399 t0", k).map(_.docId).toSeq ==
      s.docs.filter($"text" === long).select("docId").as[Long].collect().toSeq)
    all.unpersist()
  }

  test("non-ASCII and mixed-script text (the regex tokenizer path): warm ≡ distributed ≡ Oracle") {
    val texts = Seq(
      "Grüße aus München, naïve Café zanzibar",
      "Привет мир hello world zanzibar quasar",
      "日本語のテキスト mixed with English 東京 words",
      "Ελληνικά κείμενο και ZANZIBAR Ελληνικά",
      "emoji🚀rocket über Straße ß",
      "مرحبا بالعالم hello café",
      "café CAFÉ Café cafe naïve",
      "x²  ①②③ ٣٤٥ mixed١٢digits")
    val textOf = udf((conv: String, turn: Int) =>
      texts((conv.stripPrefix("conv-").toInt * 3 + turn) % texts.size))
    val all = Transcripts.generate(spark, 30L)
      .withColumn("text", when($"turn_idx" % 2 === 0, textOf($"conv_id", $"turn_idx"))
        .otherwise($"text")).as[Turn].cache()
    val idx = ingest("scripts", Seq(convRange(all, 0, 15), convRange(all, 15, 30)))
    assertParity(idx,
      Seq("münchen café", "привет hello", "東京", "ελληνικά zanzibar", "straße über", "naïve",
        "مرحبا", "٣٤٥ ①②③"),
      Seq("grüße aus münchen", "привет мир", "ελληνικά κείμενο", "café cafe"))
    all.unpersist()
  }

  test("an all-deleted seg-* between live segments: warm ≡ distributed ≡ Oracle") {
    val all = Transcripts.generate(spark, 36L).cache()
    val idx = ingest("dead-seg",
      Seq(convRange(all, 0, 12), convRange(all, 12, 24), convRange(all, 24, 36)))
    val doomed = convRange(all, 12, 24).select("conv_id").distinct().as[String].collect().toSeq
    assert(StreamingIngest.deleteConvs(spark, idx, doomed) > 0)
    val s = assertParity(idx, Seq("the", "zanzibar quasar lattice", "one have t999", "the a"),
      Seq("zanzibar quasar", "cinnabar monolith"))
    assert(s.segments.size == 3)
    assert(s.docs.filter($"conv_id".isin(doomed: _*)).isEmpty)
    all.unpersist()
  }

  test("warm() throws when two segments' docId ranges overlap") {
    val idx = s"${TestSpark.tmpRoot}/warm-path-overlap"
    val all = Transcripts.generate(spark, 20L).cache()
    // two independently built indexes: both assign docIds from 0
    for ((seg, part) <- Seq("seg-0" -> convRange(all, 0, 10), "seg-1" -> convRange(all, 10, 20)))
      new IndexBuilder(spark, s"$idx/$seg", s"snap-$seg", cfg)
        .build(DocIds.assign(DocIds.dedup(part), cfg.partitions))
    val e = intercept[IllegalStateException](new MultiSearcher(spark, idx).warm())
    assert(e.getMessage.contains("overlapping docId ranges"), e.getMessage)
    assert(e.getMessage.matches("(?s).*\\[\\d+, \\d+\\].*and \\[\\d+, \\d+\\].*"), e.getMessage)
    all.unpersist()
  }

  test("a warm multi-segment tombstoned searcher runs 0 Spark jobs per query") {
    val all = Transcripts.generate(spark, 30L).cache()
    val idx = ingest("zero-jobs", Seq(convRange(all, 0, 10), convRange(all, 10, 20),
      convRange(all, 20, 30).unionByName(convRange(all, 0, 5).filter($"turn_idx" === 1))))
    assert(StreamingIngest.deleteConvs(spark, idx, Seq("conv-00000012")) > 0)
    val s = new MultiSearcher(spark, idx).warm()
    assert(s.segments.size == 3 && s.servesLocally)
    def queries(): Seq[Array[Scored]] = Seq(
      s.search("the zanzibar", k),
      s.searchConjunctive("the one", k),
      s.searchPhrase("zanzibar quasar", k),
      s.searchBool("the", k, filters = Seq("role" -> "user"), mustNot = Seq("tool" -> "tool3"))) ++
      s.searchManyBool(Seq(BoolQuerySpec(query = "the a"),
        BoolQuerySpec(query = "have", anyFilters = Seq("role" -> Seq("user", "tool")))), k)
    val want = queries().map(_.toSeq) // pays the one-time lazy set-up
    assert(want.forall(_.nonEmpty))
    val jobs = jobsOf("warm-path-zero-jobs")(assert(queries().map(_.toSeq) == want))
    assert(jobs == 0, s"$jobs Spark job(s) ran for warm queries")
    all.unpersist()
  }

  /** Spark jobs that `body` starts (counted by its job group). */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
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

  test("the local-serving budget counts the decoded lists, not compressed bytes × 4") {
    val all = Transcripts.generate(spark, 40L).cache()
    val idx = s"${TestSpark.tmpRoot}/warm-path-budget"
    // one bucket: a list of ≤ 128 postings is one block, which the old
    // estimate charged 256 B and the decoded one 40 B plus 256 B per list
    StreamingIngest.appendSegment(spark, all, idx, 0L, cfg.copy(numBuckets = 1, blockSize = 128))
    val probe = new MultiSearcher(spark, idx).warm()
    assert(probe.servesLocally)
    val decoded = probe.localBytes
    // the estimate the budget used before the lists were decoded at warm
    // time: encoded block bytes plus 64 B per block, times 4
    val compressedX4 = probe.segments.map(seg => spark.read.parquet(s"$seg/blocks")
      .agg(sum((length($"docs") + length($"tfs") + length($"dls") + length($"poss") + 64) * 4))
      .head().getLong(0)).sum
    assert(compressedX4 < decoded, s"compressed × 4 = $compressedX4 B, decoded = $decoded B")
    def queries(s: Searcher): Seq[Seq[Scored]] = Seq(
      s.search("the zanzibar", k), s.searchConjunctive("the one", k),
      s.searchPhrase("zanzibar quasar", k),
      s.searchBool("the", k, filters = Seq("role" -> "user"))).map(_.toSeq)
    val want = queries(probe)
    assert(want.forall(_.nonEmpty))
    val tight = new MultiSearcher(spark, idx).warm(maxLocalBlockBytes = compressedX4)
    assert(!tight.servesLocally && tight.localBytes == decoded)
    assert(queries(tight) == want)
    assert(jobsOf("warm-path-budget-tight")(assert(queries(tight) == want)) > 0)
    val fits = new MultiSearcher(spark, idx).warm(maxLocalBlockBytes = decoded)
    assert(fits.servesLocally)
    assert(queries(fits) == want)
    val jobs = jobsOf("warm-path-budget-fits")(assert(queries(fits) == want))
    assert(jobs == 0, s"$jobs Spark job(s) ran for warm queries")
    all.unpersist()
  }

  test("heavy churn (df corrections not cached on the driver) stays distributed ≡ Oracle") {
    val all = Transcripts.generate(spark, 30L).cache()
    val idx = ingest("churn", Seq(convRange(all, 0, 15),
      convRange(all, 15, 30).unionByName(convRange(all, 0, 6).filter($"turn_idx" === 0))))
    assert(StreamingIngest.deleteConvs(spark, idx, Seq("conv-00000003", "conv-00000021")) > 0)
    val s = new MultiSearcher(spark, idx)
    s.maxDriverRemovedTerms = 0
    s.warm()
    assert(!s.servesLocally && s.localBytes == 0L)
    val live = s.docs.cache()
    for (q <- Seq("the zanzibar", "one have", "quasar")) {
      assert(s.search(q, k).toSeq == hits(Oracle.topK(live, q, k)), s"OR '$q'")
      assert(s.searchConjunctive(q, k).toSeq == hits(Oracle.topKConjunctive(live, q, k)),
        s"AND '$q'")
    }
    assert(s.searchPhrase("zanzibar quasar", k).toSeq ==
      hits(Oracle.topKPhrase(live, "zanzibar quasar", k)))
    assert(jobsOf("warm-path-churn")(s.search("the zanzibar", k)) > 0)
    live.unpersist()
    all.unpersist()
  }
}
