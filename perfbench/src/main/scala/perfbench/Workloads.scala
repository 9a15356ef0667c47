package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.analysis.Analyzer
import graft.index.{BuildReport, Compaction, CompactionPolicy, CompactionReport, DocIds, IndexBuilder,
  IndexConfig, SegmentCatalog}
import graft.model.{Scored, Turn}
import graft.query.{MultiSearcher, Oracle, Searcher}
import graft.streaming.StreamingIngest

/** What every workload shares: the session, the seed, a scratch dir, the
  * tracer and the per-layer counters a traced run fills in.
  */
final class Env(val spark: SparkSession, val seed: Long, val work: String, val trace: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Per-layer counters (summed over the timed ops); traced runs only. */
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  def count(name: String, v: Double): Unit = if (trace.enabled) counters(name) += v
  /** Per-op samples a traced run reports as a median. */
  val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  def sample(name: String, v: Double): Unit =
    if (trace.enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def dir(name: String): String = s"$work/$name"
  val cfg: IndexConfig = IndexConfig(numBuckets = cores, numShards = 8, partitions = cores,
    fieldCols = Seq("role", "tool"))

  /** Bytes of the regular files under `path` (a local path or file: URI). */
  def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(path).toUri.getPath)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Dedup + docId assignment and the index build, each in its span. */
  def buildIndex(turns: Dataset[Turn], dir: String, snapshot: String): BuildReport = {
    val docs = trace("docids")(DocIds.dedupAndAssign(turns, cores))
    try trace("build")(new IndexBuilder(spark, dir, snapshot, cfg).build(docs, resume = false))
    finally docs.unpersist(blocking = false)
  }

  /** Per-cell wall seconds from a build's manifests (traced runs only). */
  def countCells(dir: String): Unit = if (trace.enabled) trace.bookkeeping {
    new IndexBuilder(spark, dir, "", IndexConfig()).allManifests.foreach { m =>
      count(s"build.${Layers.cellOf(m.cell)}.wall_s", m.wallSec)
    }
  }
}

/** One workload: untimed `setup`, the timed `op`s, untimed checks. */
trait Workload {
  def setup(): Unit
  /** Runs op `i`; returns the units of work it did (turns or requests). */
  def op(i: Int): Long
  /** Checks the outputs; returns (ops checked, ops that failed). */
  def check(): (Int, Int)
  /** (bytes under the index directory, live turns it holds). */
  def index: (Long, Long)
}

object Workload {
  def apply(name: String, env: Env): Workload = name match {
    case "search_warm" => new SearchWorkload(env)
    case "ingest"      => new IngestWorkload(env)
    case other         => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def sameHits(a: Array[Scored], b: Array[Scored]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.docId == y.docId && math.abs(x.score - y.score) <= 1e-9 * math.max(1.0, math.abs(x.score))
    }

  def hitsOf(df: DataFrame): Array[Scored] =
    df.select(col("docId"), col("score")).collect().map(r => Scored(r.getLong(0), r.getDouble(1)))
}

/** Serves a seeded query stream from one fixture index that fits
  * `Searcher.warm`'s in-process budget: every query runs zero Spark jobs,
  * so the workload isolates analysis, dictionary lookup, WAND and the
  * driver JVM's allocation and GC.
  */
final class SearchWorkload(env: Env) extends Workload {
  import env._
  /** ~22k turns, the size of the repo's golden fixture (FIXTURES.md §1). */
  val Convs = 2500L
  val Stream = 50000
  /** Queries run before timing, so the JIT has compiled the query path. */
  val Warmup = 2000
  private val d = dir("fixture")
  private var report: BuildReport = _
  private var searcher: Searcher = _
  private var queries: Vector[Gen.Query] = _
  /** Results of the first op of each query class (ops 0–3, as the
    * classes rotate), kept for the checks.
    */
  private val kept = mutable.Map[Int, Array[Scored]]()
  /** Spark jobs run by one warm query of each class. */
  private var warmJobs = -1

  def setup(): Unit = {
    report = buildIndex(Gen.corpus(spark, seed, Convs, cores), d, "fixture")
    countCells(d)
    searcher = new Searcher(spark, d, cfg.numShards).warm(maxLocalBlockBytes = 2L << 30)
    queries = Gen.queries(seed, 0, Stream, Convs)
    Gen.queries(seed, 2, Warmup, Convs).foreach(run(searcher, _))
    // `warm` stays distributed when the index is over its budget: count
    // the jobs of one query per class, which check() requires to be 0
    val jobs = new Attribution
    spark.sparkContext.addSparkListener(jobs)
    Gen.queries(seed, 3, Gen.Kinds.size, Convs).foreach(run(searcher, _))
    org.apache.spark.sql.GraftSqlBridge.waitListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    warmJobs = jobs.all.size
  }

  private def run(s: Searcher, q: Gen.Query): Array[Scored] = q.kind match {
    case "or"     => s.search(q.text, q.k)
    case "and"    => s.searchConjunctive(q.text, q.k)
    case "phrase" => s.searchPhrase(q.text, q.k)
    case "bool"   => s.searchBool(q.text, q.k, filters = q.role.toSeq.map("role" -> _),
      mustNot = q.notTool.toSeq.map("tool" -> _))
  }

  def op(i: Int): Long = {
    val q = queries(i % queries.size)
    val hits =
      if (!trace.enabled) run(searcher, q)
      else {
        val terms = trace("analysis")(Analyzer.analyzeQuery(q.text))
        val found = trace("searcher.lookup")(searcher.lookupTerms(terms.toSeq))
        count("searcher.terms", terms.length)
        count("searcher.df_sum", found.values.map(_.df.toDouble).sum)
        trace("searcher.search")(run(searcher, q))
      }
    if (i < Gen.Kinds.size) kept(i) = hits
    1L
  }

  /** The first query of each class (run now if the loop did not reach
    * it) must match the distributed serving path over the same index,
    * and OR, AND and phrase queries their exhaustive `Oracle`. The warm
    * queries of set-up must have run no Spark job.
    */
  def check(): (Int, Int) = {
    val distributed = new Searcher(spark, d, cfg.numShards).warm(maxLocalBlockBytes = 0L)
    val docs = spark.read.parquet(s"$d/docs")
    val bad = Gen.Kinds.indices.count { i =>
      val q = queries(i)
      val hits = kept.getOrElse(i, run(searcher, q))
      val oracle = q.kind match {
        case "or"     => Some(Oracle.topK(docs, q.text, q.k))
        case "and"    => Some(Oracle.topKConjunctive(docs, q.text, q.k))
        case "phrase" => Some(Oracle.topKPhrase(docs, q.text, q.k))
        case _        => None
      }
      val ok = Workload.sameHits(hits, run(distributed, q)) &&
        oracle.forall(o => Workload.sameHits(hits, Workload.hitsOf(o)))
      if (!ok) System.err.println(s"[perfbench] search_warm: mismatch on $q")
      !ok
    }
    if (warmJobs != 0) System.err.println(s"[perfbench] search_warm: warm queries ran $warmJobs Spark jobs")
    (Gen.Kinds.size + 1, bad + (if (warmJobs == 0) 0 else 1))
  }

  def index: (Long, Long) = (bytesUnder(d), report.n)
}

/** Writes beside reads. Each op is one micro-batch:
  * `StreamingIngest.appendSegment` (a seeded share re-ingests live keys:
  * last-write-wins upserts that tombstone the older copy), a fresh
  * `MultiSearcher` (the refresh) serving one op of each distributed class
  * — `search`, `searchBool` with a filter, `facetCounts`, `dateHistogram`,
  * `searchHighlighted` — then `deleteTurns` and `Compaction.maybeCompact`.
  * The searcher is not warmed, so every query plans and runs Spark jobs.
  * Set-up runs batch 0 under a policy that compacts on any tombstone, so
  * every run makes one real compaction (the deletes purged, the segment
  * rewritten); the timed batches use the default policy.
  */
final class IngestWorkload(env: Env) extends Workload {
  import env._
  /** ~1,800 turns: a batch costs about one segment build's fixed jobs. */
  val ConvsPerBatch = 200
  /** Assumed churn: no traffic log in the repo gives a share. */
  val UpsertShare = 0.02
  val DeleteShare = 0.01
  /** Batches the plan holds: more than a run can append before the
    * runner's 170 s limit (an op takes over 10 s).
    */
  val MaxBatches = 16
  private val d = dir("ingest")
  private lazy val plan = Gen.ingestPlan(seed, MaxBatches, ConvsPerBatch, UpsertShare, DeleteShare,
    Gen.SparkOps.size)
  private var done = 0
  private var liveDocs = 0L
  private lazy val icfg = cfg.copy(numBuckets = 1)

  def setup(): Unit =
    if (cycle(0, CompactionPolicy(tombstoneRatio = 0.0))._2.isEmpty)
      throw new IllegalStateException("the set-up compaction did not run")

  /** Applies batch `b`; returns its rows and the compaction it made. */
  private def cycle(b: Int, policy: CompactionPolicy): (Long, Option[CompactionReport]) = {
    import spark.implicits._
    val batch = plan.batches(b)
    val t0 = System.nanoTime()
    trace("ingest.append")(StreamingIngest.appendSegment(spark, batch.rows.toDS(), d, b, icfg))
    if (trace.enabled) trace.bookkeeping {
      count("ingest.segment_bytes", bytesUnder(s"$d/seg-$b"))
      countCells(s"$d/seg-$b")
    }
    val ms = trace("multisearcher.refresh") {
      val m = trace("multisearcher.open")(new MultiSearcher(spark, d))
      sparkOp(m, 0, batch.queries(0))
      m
    }
    sample("ingest.refresh_s", (System.nanoTime() - t0) / 1e9)
    count("multisearcher.live_segments", ms.segments.size)
    for (j <- 1 until batch.queries.size) sparkOp(ms, j, batch.queries(j))
    val deleted = trace("ingest.delete")(StreamingIngest.deleteTurns(spark, d,
      batch.deletes.map { case (c, t) => (Gen.convId(c), t) }))
    count("ingest.tombstones", batch.upserts + deleted)
    val before = if (trace.enabled) trace.bookkeeping(SegmentCatalog.liveSegments(spark, d)) else Nil
    val c0 = System.nanoTime()
    val r = trace("compaction")(Compaction.maybeCompact(spark, d, policy))
    if (r.isDefined) {
      count("compaction.runs", 1)
      count("compaction.merge_s", (System.nanoTime() - c0) / 1e9)
      if (trace.enabled) trace.bookkeeping(count("compaction.bytes_written",
        SegmentCatalog.liveSegments(spark, d).filterNot(before.toSet).map(bytesUnder).sum))
    }
    done = b + 1
    (batch.rows.size, r)
  }

  /** Distributed op `j` of a batch: class `Gen.SparkOps(j % 5)`. */
  private def sparkOp(ms: MultiSearcher, j: Int, q: String): Unit = {
    val cls = Gen.SparkOps(j % Gen.SparkOps.size)
    trace(s"spark.$cls") {
      cls match {
        case "search"    => ms.search(q, 10)
        case "bool"      => ms.searchBool(q, 10, filters = Seq("role" -> Gen.Roles(j % Gen.Roles.size)))
        case "facet"     => ms.facetCounts(q, "role").collect()
        case "datehist"  => ms.dateHistogram(q, "ts", "day").collect()
        case "highlight" => ms.searchHighlighted(q, 10).collect()
      }
    }
  }

  def op(i: Int): Long = cycle(i + 1, CompactionPolicy())._1

  /** A fresh searcher must hold exactly the live corpus the generator
    * tracked (last write wins, deletes removed), and its top-k must match
    * `Oracle.topK` over that corpus.
    */
  def check(): (Int, Int) = {
    import spark.implicits._
    val live = Gen.ingestPlan(seed, done, ConvsPerBatch, UpsertShare, DeleteShare, Gen.SparkOps.size)
      .liveRows(seed)
    val ms = new MultiSearcher(spark, d)
    val truth = live.toDF().select(col("conv_id"), col("turn_idx"), col("text"))
    val joined = ms.docs.select(col("docId"), col("conv_id"), col("turn_idx"), col("text"))
      .join(truth, Seq("conv_id", "turn_idx", "text")).cache()
    val n = joined.count()
    val indexed = ms.docs.count()
    liveDocs = indexed
    val liveOk = n == live.size && indexed == live.size
    if (!liveOk) System.err.println(s"[perfbench] ingest: $indexed live docs, $n match the generator's ${live.size}")
    val q = plan.batches(done - 1).queries.head
    val bad = if (Workload.sameHits(ms.search(q, 10), Workload.hitsOf(Oracle.topK(joined, q, 10)))) 0 else 1
    joined.unpersist()
    (2, bad + (if (liveOk) 0 else 1))
  }

  def index: (Long, Long) = (bytesUnder(d), liveDocs)
}
