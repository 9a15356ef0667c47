package graft.query

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Scored

/** Named indexes, aliases and multi-index search (round-6 review
  * "What's missing #6" — the reference lets operators create many named
  * indexes, NeoFinderToES.java:184-192, and its ES users search
  * `name1,name2`, `index-*` patterns and aliases across them).
  *
  * Layout: a ROOT directory whose sub-directories are the named
  * indexes — each either a plain built index (IndexBuilder output) or
  * a streaming seg-* index (MultiSearcher layout); `aliases.props` at
  * the root maps alias → index-name list (atomic tmp+rename writes,
  * same recipe as the segment catalog).
  *
  * Scoring semantics: ES's default `query_then_fetch` — every index
  * scores with its OWN corpus statistics (df, N, avgdl), and per-index
  * top-k hits merge by (score desc, index name asc, docId asc). This
  * is exactly what an ES user gets across indexes (global-stats
  * `dfs_query_then_fetch` is the documented non-default); single-index
  * searches through this surface are therefore bit-identical to a
  * direct `Searcher`/`MultiSearcher` call. Execution: one top-k job
  * per matched index (each internally parallel and pruned), driver
  * merge of ≤ k·indexes tiny rows — at scale, per-index serving state
  * stays per-index (exactly ES's per-index shards).
  */
object Aliases {
  private def path(root: String) = new Path(root, "aliases.props")

  /** alias → index names; empty map when the file does not exist. */
  def load(fs: org.apache.hadoop.fs.FileSystem, root: String): Map[String, Seq[String]] = {
    val p = path(root)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val bytes = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    var r = in.read(buf)
    while (r > 0) { bytes.write(buf, 0, r); r = in.read(buf) }
    in.close()
    bytes.toString("UTF-8").linesIterator
      .filter(l => l.nonEmpty && l.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.substring(0, i) -> l.substring(i + 1).split(",").toSeq.filter(_.nonEmpty)
      }.toMap
  }

  /** JVM-level write serialization: add/remove are load-then-write over
    * the whole map, so two concurrent mutators would lose one update.
    * In-process mutations serialize here (same recipe as the segment
    * catalog); CROSS-process alias mutation needs an external
    * single-writer — the documented deployment contract (ES routes all
    * alias updates through one master node the same way).
    */
  private val writeLock = new Object

  private def write(fs: org.apache.hadoop.fs.FileSystem, root: String,
      m: Map[String, Seq[String]]): Unit = {
    val tmp = new Path(root, "aliases.props.tmp")
    val out = fs.create(tmp, true)
    out.write(m.toSeq.sortBy(_._1)
      .map { case (a, ns) => s"$a=${ns.mkString(",")}" }
      .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    // ATOMIC overwrite rename (the SegmentCatalog pointer recipe) — a
    // delete-then-rename would have a crash window that loses EVERY
    // alias (round-7 review)
    val p = path(root)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, fs.getConf)
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(p),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Add (or replace) `alias` → `indexes` (ES `_aliases` add action).
    * Rejected loudly (ES parity, round-7 review): alias names that
    * shadow an EXISTING index (resolution checks aliases first — a
    * collision would silently hijack the real index), names with glob
    * metacharacters (would shadow patterns), and target names that
    * would corrupt the props line format.
    */
  def add(fs: org.apache.hadoop.fs.FileSystem, root: String, alias: String,
      indexes: Seq[String]): Unit = writeLock.synchronized {
    require(alias.nonEmpty && "=,*?".forall(c => !alias.contains(c)),
      s"invalid alias name '$alias'")
    require(indexes.nonEmpty && indexes.forall(n =>
        n.nonEmpty && "=,*?".forall(c => !n.contains(c))),
      s"invalid alias target list $indexes")
    require(!fs.exists(new Path(root, alias)),
      s"alias '$alias' would shadow an existing index of the same name")
    write(fs, root, load(fs, root) + (alias -> indexes))
  }

  /** Remove `alias` (ES `_aliases` remove action; idempotent). */
  def remove(fs: org.apache.hadoop.fs.FileSystem, root: String, alias: String): Unit =
    writeLock.synchronized { write(fs, root, load(fs, root) - alias) }
}

/** Multi-index search over the named indexes under `root` — see
  * [[Aliases]] for the layout and the ES scoring contract.
  * `numShards` must match the indexes' build config (one value for all,
  * like one cluster-wide shard setting).
  */
class Indices(spark: SparkSession, root: String, numShards: Int = 8) {
  private val fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The named indexes currently under the root: sub-directories that
    * contain either a built index (`stats/`) or a streaming segment
    * catalog / seg-* sub-dirs.
    */
  def indexNames: Seq[String] = {
    val st = fs.listStatus(new Path(root)).filter(_.isDirectory)
    st.map(_.getPath).filter { p =>
      fs.exists(new Path(p, "stats")) || fs.exists(new Path(p, "segments.props")) ||
        fs.listStatus(p).exists(s => s.isDirectory && s.getPath.getName.startsWith("seg-"))
    }.map(_.getName).toSeq.sorted
  }

  /** Resolve an ES-style index expression: comma-separated names,
    * `*`/`?` glob patterns, and aliases (resolved first, one level).
    * Result is name-sorted and distinct; unknown literal names fail
    * loudly (ES 404 semantics), unmatched globs resolve to empty.
    */
  def resolve(expr: String): Seq[String] = {
    val aliases = Aliases.load(fs, root)
    val names = indexNames
    // an index DIRECTORY created after the alias (Aliases.add only
    // guards the other direction) would be silently shadowed by
    // alias-first resolution — ES refuses the name collision outright,
    // so fail loudly on ANY overlap (round-7 ADVICE)
    val collisions = aliases.keySet.intersect(names.toSet)
    require(collisions.isEmpty,
      s"name(s) ${collisions.toSeq.sorted.mkString(", ")} are both an alias " +
        s"and a live index under $root — delete one (ES forbids the collision)")
    val parts = expr.split(",").map(_.trim).filter(_.nonEmpty)
    val resolved = parts.flatMap { p =>
      aliases.get(p) match {
        case Some(ns) =>
          // a dangling alias (target index deleted since `add`) fails
          // HERE, not later inside a parquet read (round-7 review)
          ns.foreach(n => require(names.contains(n),
            s"alias '$p' points at missing index '$n' under $root"))
          ns
        case None if p.contains("*") || p.contains("?") =>
          val rx = ("^" + p.flatMap {
            case '*' => ".*"
            case '?' => "."
            case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => "\\" + c
            case c => c.toString
          } + "$").r
          names.filter(n => rx.findFirstIn(n).isDefined)
        case None =>
          require(names.contains(p), s"no such index '$p' under $root")
          Seq(p)
      }
    }
    resolved.distinct.sorted.toSeq
  }

  // per-name serving state, built once per Indices instance: a fresh
  // Searcher per CALL would re-read segment catalogs +
  // per-segment stats on every query (round-7 review). A new index
  // appearing under the root is picked up by a new Indices instance
  // (same contract as MultiSearcher's segment snapshot).
  private val searchers =
    new java.util.concurrent.ConcurrentHashMap[String, Searcher]()
  private def searcherFor(name: String): Searcher =
    searchers.computeIfAbsent(name, { n =>
      val dir = new Path(root, n).toString
      if (isSegmented(n)) new MultiSearcher(spark, dir)
      else new Searcher(spark, dir, numShards)
    })

  /** Is `name` a streaming (seg-*) index? */
  private def isSegmented(name: String): Boolean = {
    val p = new Path(root, name)
    fs.exists(new Path(p, "segments.props")) ||
      (!fs.exists(new Path(p, "stats")) &&
        fs.listStatus(p).exists(s => s.isDirectory && s.getPath.getName.startsWith("seg-")))
  }

  /** Per-index top-k under the index's OWN stats. */
  private def topK(name: String, query: String, k: Int,
      conjunctive: Boolean): Array[Scored] = {
    val s = searcherFor(name)
    if (conjunctive) s.searchConjunctive(query, k) else s.search(query, k)
  }

  /** Multi-index BM25 top-k (`GET name1,idx-*,alias/_search` shape):
    * per-index local-stats top-k, merged (score desc, index asc,
    * docId asc), global top `k`. Returns (index, docId, score) rows.
    * `indicesBoost` (ES `indices_boost`) multiplies an index's scores
    * before the merge (absent = 1.0) — one multiply per hit, applied
    * AFTER the per-index top-k (a positive constant factor preserves
    * each index's internal ranking, so the boosted global top-k is
    * exact).
    */
  def search(expr: String, query: String, k: Int,
      conjunctive: Boolean = false,
      indicesBoost: Map[String, Double] = Map.empty): DataFrame = {
    import spark.implicits._
    require(indicesBoost.values.forall(_ > 0.0), "indices_boost factors must be > 0")
    // boost KEYS go through the same alias/glob resolution as the
    // search expression (ES accepts aliases and patterns there) — a
    // typo'd literal key 404s loudly instead of silently boosting
    // nothing (round-7 review); two keys resolving to one index is
    // ambiguous and rejected
    val boostOf: Map[String, Double] = indicesBoost.toSeq
      .flatMap { case (kx, b) => resolve(kx).map(_ -> b) }
      .groupBy(_._1).map { case (n, bs) =>
        require(bs.map(_._2).distinct.size == 1,
          s"indices_boost keys resolve to index '$n' with conflicting factors")
        n -> bs.head._2
      }
    // CONCURRENT per-index fan-out (round-7 review "What's wrong #2"):
    // the per-index jobs are independent, so they submit together on the
    // shared session (Spark schedules concurrent jobs fairly across the
    // executor pool — the MultiSearcher per-segment pattern) instead of
    // each paying the full job floor in sequence; `idx-*` over N indexes
    // costs ~max, not N × single-index time
    val hits = parallel(resolve(expr)) { n =>
      val b = boostOf.getOrElse(n, 1.0)
      topK(n, query, k, conjunctive)
        .map(h => (n, h.docId, if (b == 1.0) h.score else b * h.score)).toSeq
    }.flatten
    hits.sortBy { case (n, id, s) => (-s, n, id) }.take(k)
      .toDF("index", "docId", "score")
  }

  /** Total hits per index (the ES per-index `_count` shape) —
    * concurrent fan-out, same as [[search]].
    */
  def counts(expr: String, query: String): DataFrame = {
    import spark.implicits._
    parallel(resolve(expr)) { n =>
      (n, searcherFor(n).matchCount(query))
    }.toDF("index", "n_docs")
  }

  /** Multi-index `terms` aggregation (the ES `_search` aggs shape over
    * an `idx-*` pattern,
    * round-7 review "What's missing #6"): every matched index's
    * facetCounts PLAN unions into ONE job (plans are lazy — the union
    * executes all per-index membership scans in parallel inside one
    * Spark job), merged by key with SUM — exact for counts-style aggs
    * because a doc lives in exactly one index (ES merges per-shard
    * count buckets the same way). `size` applies AFTER the merge (the
    * ES coordinating-node rule). Order-statistic aggs (percentiles,
    * cardinality) are served by [[percentiles]]/[[cardinality]] below
    * over the UNIONED still-distributed match sets — exact without any
    * sketch-state merge.
    */
  def facetCounts(expr: String, query: String, field: String,
      size: Int = 0): DataFrame = {
    // per-index PLAN construction fans out concurrently too: building
    // each index's facet plan runs that index's dictionary-lookup job,
    // which would otherwise serialize on the driver (same rationale as
    // the round-8 search/counts fan-out; the merged plan still executes
    // as ONE job)
    val frames = parallel(resolve(expr)) { n =>
      searcherFor(n).facetCounts(query, field)
    }
    require(frames.nonEmpty, s"expression '$expr' matched no index under $root")
    val merged = frames.reduce(_ unionByName _)
      .groupBy(col("value")).agg(sum(col("n_docs")).as("n_docs"))
    if (size > 0) merged.orderBy(col("n_docs").desc, col("value").asc).limit(size)
    else merged.orderBy(col("value"))
  }

  /** Multi-index `stats` aggregation: every matched index's one-row
    * fieldStats plan unions into ONE job, then the partials merge
    * EXACTLY — counts and sums add, min/max combine, and avg is
    * re-derived as merged sum ÷ merged count (NEVER an average of
    * per-index averages — the ES coordinating node merges shard stats
    * the same way; exact because a doc lives in exactly one index).
    * Same (n_docs, min, max, avg, sum) schema as the per-index agg;
    * indexes with an empty match set contribute n_docs = 0 and NULL
    * min/max (ignored by the merge).
    */
  def fieldStats(expr: String, query: String, field: String): DataFrame = {
    // concurrent per-index plan construction (see facetCounts)
    val frames = parallel(resolve(expr)) { n =>
      searcherFor(n).fieldStats(query, field)
    }
    require(frames.nonEmpty, s"expression '$expr' matched no index under $root")
    frames.reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"), min(col("min")).as("min"),
        max(col("max")).as("max"), sum(col("sum")).as("sum"))
      .select(col("n_docs"), col("min"), col("max"),
        (col("sum").cast("double") / col("n_docs")).as("avg"), col("sum"))
  }

  /** The resolved indexes' matched (docId, field) frames unioned into
    * one distributed plan — the shared input of the ORDER-STATISTIC
    * cross-index aggregations below. Exact without any sketch-state
    * merge: a doc lives in exactly one index, so the union IS the
    * global match set (the round-7 review marked cross-index
    * percentiles "documented-hard" assuming partial-merge; unioning
    * the still-distributed match sets sidesteps it — one job, match
    * sets never on the driver).
    */
  private def matchedUnion(expr: String, query: String, field: String): DataFrame = {
    // concurrent per-index plan construction (see facetCounts)
    val frames = parallel(resolve(expr)) { n =>
      searcherFor(n).matchedField(query, field)
    }
    require(frames.nonEmpty, s"expression '$expr' matched no index under $root")
    frames.reduce(_ unionByName _)
  }

  /** Multi-index `percentiles` (ES `_search` aggs over `idx-*`): exact
    * `percentile` (or the `percentile_approx` sketch when
    * `approximate`) over the UNIONED match sets — identical rules to
    * the per-index aggregation, exact across indexes. Returns (p,
    * value) rows like the per-index surface.
    */
  def percentiles(expr: String, query: String, field: String, ps: Seq[Double],
      approximate: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{array, element_at, lit, posexplode}
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "percentiles must be in [0, 1]")
    val pLits = array(ps.map(lit): _*)
    val aggExpr =
      if (approximate) percentile_approx(col(field), pLits, lit(10000))
      else percentile(col(field), pLits)
    matchedUnion(expr, query, field)
      .agg(aggExpr.as("vals"))
      .select(posexplode(col("vals")).as(Seq("pos", "value")))
      .select(element_at(pLits, col("pos").cast("int") + 1).as("p"),
        col("value").cast("double").as("value"))
      .orderBy(col("p"))
  }

  /** Multi-index `cardinality`: distinct field values over the unioned
    * match sets — exact by default (distinct de-dups ACROSS indexes in
    * the same job — per-index counts cannot merge exactly, which is
    * why this rides the union), HLL sketch when `approximate`.
    */
  def cardinality(expr: String, query: String, field: String,
      approximate: Boolean = false): Long = {
    val joined = matchedUnion(expr, query, field)
    val agg =
      if (approximate) joined.agg(approx_count_distinct(col(field)).as("c"))
      else joined.agg(countDistinct(col(field)).as("c"))
    agg.head().getLong(0)
  }

  /** Run `f` over the resolved index names concurrently, results in
    * input order (deterministic — downstream merges re-sort anyway).
    */
  private def parallel[A](names: Seq[String])(f: String => A): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(names.map(n => Future(f(n)))),
      scala.concurrent.duration.Duration.Inf)
  }
}
