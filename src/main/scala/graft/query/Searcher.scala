package graft.query

import scala.language.implicitConversions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{Codec, FieldTerms, GraftHash, Tombstones}
import graft.model.{IndexStats, PostingBlock, Scored, TermStats}

/** One ES bool query: the FULL bool surface, including lexicographic
  * `rangeFilters`. A spec compiles to the engine's one query value
  * ([[ResolvedQuery]]); [[Searcher.searchBool]] runs one spec,
  * [[Searcher.searchManyBool]] a batched `_msearch`-style request (all
  * specs' ranges expand in ONE batched dictionary scan — the one-job
  * contract holds), and every match-set operator (aggregations, counts,
  * field sorts, constant score, collapse) takes its membership as one
  * spec. A match set is the OR of the `query` terms on the main field
  * plus the clauses; it rejects `conjunctive`, `phrase`, `should`,
  * `minShouldMatch`, a non-main `field` and `multiMatchFields`.
  */
final case class BoolQuerySpec(
    query: String = "",
    /** Analyzed field the `query` text matches over ("text" = the main
      * field) — per-field BM25 stats, same as `searchField`.
      */
    field: String = "text",
    /** ES `multi_match`: when non-empty, overrides `field` — the
      * query's terms score over every (field, boost) under that field's
      * stats, boost-scaled (OR mode; same semantics as `multiMatch`).
      */
    multiMatchFields: Seq[(String, Double)] = Nil,
    /** best_fields combination for `multiMatchFields` (ES's default
      * multi_match mode): score = best field's sum + tieBreaker · Σ
      * others; false = most_fields (summed).
      */
    multiMatchBest: Boolean = false,
    tieBreaker: Double = 0.0,
    conjunctive: Boolean = false,
    phrase: Boolean = false,
    filters: Seq[(String, String)] = Nil,
    mustNot: Seq[(String, String)] = Nil,
    anyFilters: Seq[(String, Seq[String])] = Nil,
    numericRangeFilters: Seq[(String, Long, Long)] = Nil,
    /** ES `range` clauses on keyword fields (lexicographic, inclusive —
      * same semantics as the standalone `searchBool` parameter).
      */
    rangeFilters: Seq[(String, String, String)] = Nil,
    /** ES `exists` clauses (doc must HAVE each field) / `must_not
      * exists` ("missing") — the `_field_names`-style marker terms.
      */
    exists: Seq[String] = Nil,
    missing: Seq[String] = Nil,
    /** ES bool `must_not` over ANALYZED text ((field, word) pairs,
      * field "text" = the main field; the Lucene `-term` clause): docs
      * containing the word's tokens in that field are vetoed. Same
      * exclude-cursor machinery as keyword mustNot.
      */
    mustNotText: Seq[(String, String)] = Nil,
    should: String = "",
    minShouldMatch: Int = 0,
    phraseSlop: Int = 0)

object BoolQuerySpec {
  /** A bare query string is the spec without clauses, so a filter-free
    * match-set call reads `facetCounts(q, field)`.
    */
  implicit def ofQuery(query: String): BoolQuerySpec = BoolQuerySpec(query)
}

/** Pattern-compile helpers shared by the single-index and cross-segment
  * term-expansion paths (ES `wildcard` rewrite): the Scala regex (warm
  * driver dictionary) and the SQL LIKE pattern (cold dictionary scan) MUST
  * stay equivalent — EngineSpec "wildcard twins" pins warm ≡ cold for
  * `?`, `*?`, a leading `?` and a pattern without wildcards.
  */
private[graft] object Expansion {
  def wildcardRegex(patLower: String): scala.util.matching.Regex =
    ("^" + patLower.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => "\\" + c
      case c => c.toString
    } + "$").r

  def wildcardLike(patLower: String): String =
    patLower.flatMap {
      case '*' => "%"
      case '?' => "_"
      case c if c == '%' || c == '_' || c == '\\' => "\\" + c
      case c => c.toString
    }

  /** Unit-cost Levenshtein — MUST agree with Spark's
    * functions.levenshtein and DuckDB's levenshtein (the oracle twins).
    */
  def levenshtein(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    var i = 1
    while (i <= a.length) {
      var prev = dp(0)
      dp(0) = i
      var j = 1
      while (j <= b.length) {
        val cur = dp(j)
        val sub = if (a.charAt(i - 1) == b.charAt(j - 1)) prev else prev + 1
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1), sub)
        prev = cur
        j += 1
      }
      i += 1
    }
    dp(b.length)
  }
}

/** ES `function_score` decay shapes (public — callers tune these). */
object FunctionScore {

  /** ES `function_score` DECAY multiplier (gauss | exp | linear) of a
    * numeric value column — the closed forms ES documents, with the
    * per-unit rate precomputed ONCE on the driver (StrictMath.log —
    * the deterministic fdlibm path, same rule as Bm25) so the
    * distributed expression is one subtract/abs/multiply chain:
    *   d      = max(0, |v − origin| − offset)
    *   gauss  = e^(d² · ln(decay) / scale²)      (≡ decay^((d/scale)²))
    *   exp    = e^(d · ln(decay) / scale)        (≡ decay^(d/scale))
    *   linear = max(0, 1 − d · (1 − decay)/scale)
    * so v = origin±offset ⇒ 1.0 and v at origin±(offset+scale) ⇒
    * exactly `decay` on every shape (the ES contract).
    */
  def decayMultiplier(v: Column, shape: String, origin: Double,
      scale: Double, offset: Double, decay: Double): Column = {
    require(scale > 0.0, s"decay scale must be > 0, got $scale")
    require(offset >= 0.0, s"decay offset must be >= 0, got $offset")
    require(decay > 0.0 && decay < 1.0, s"decay must be in (0, 1), got $decay")
    val d = greatest(abs(v - lit(origin)) - lit(offset), lit(0.0))
    shape match {
      case "gauss" => exp((d * d) * lit(StrictMath.log(decay) / (scale * scale)))
      case "exp" => exp(d * lit(StrictMath.log(decay) / scale))
      case "linear" => greatest(lit(1.0) - d * lit((1.0 - decay) / scale), lit(0.0))
      case other => throw new IllegalArgumentException(
        s"unknown decay shape '$other' (gauss | exp | linear)")
    }
  }
}

private[query] object Searcher {
  import graft.model.{PostingBlock => PB}

  /** Placeholder slot name of the `match_phrase_prefix` expanded last
    * position (the \u0001 control prefix precedes every analyzer-emitted and namespaced
    * term, so it can never collide with a real dictionary term).
    */
  val PrefixSlot = "\u0001prefix"

  /** ES JLH significance score over a (term, fg_count, bg_count) frame:
    * (fg% − bg%) · (fg% / bg%), positive-only (ES drops terms that are
    * rarer in the foreground). The arithmetic shape (each ratio one
    * division, then one subtraction/division/multiplication) is
    * mirrored verbatim in the DuckDB twin so the rounded scores
    * hash-match.
    */
  def jlhScore(joined: DataFrame, fgN: Long, n: Long): DataFrame = {
    val fgPct = col("fg_count").cast("double") / lit(fgN.toDouble)
    val bgPct = col("bg_count").cast("double") / lit(n.toDouble)
    joined.withColumn("score", (fgPct - bgPct) * (fgPct / bgPct))
      .filter(col("score") > lit(0.0))
  }

  /** Shared phrase-suggester tail (round-7, both searchers): enumerate
    * candidate phrases from the per-slot candidate lists (Cartesian
    * product in slot-rank order, capped at `maxPhrases` — deterministic),
    * score each as the SUM of its adjacent bigram doc-counts (integer —
    * the unsmoothed bigram-likelihood numerator; ES's phrase suggester
    * ranks by a smoothed bigram language model, deviation documented),
    * rank (score desc, phrase asc), top k.
    */
  def phraseSuggestFrom(spark: SparkSession, slotCands: Seq[Seq[String]],
      bigram: Map[(String, String), Long], k: Int,
      maxPhrases: Int = 1000): DataFrame = {
    import spark.implicits._
    val phrases = slotCands
      .foldLeft(Seq(Seq.empty[String])) { (acc, cs) =>
        (for (p <- acc.iterator; c <- cs.iterator) yield p :+ c).take(maxPhrases).toSeq
      }
    phrases.map { p =>
      val score = p.sliding(2)
        .map { case Seq(a, b) => bigram.getOrElse((a, b), 0L); case _ => 0L }.sum
      (p.mkString(" "), score)
    }.sortBy { case (s, sc) => (-sc, s) }
      .take(k)
      .toDF("suggestion", "score")
  }

  /** Adjacent candidate pairs of the slot lists (the bigrams whose
    * corpus doc-counts the phrase suggester needs).
    */
  def slotPairs(slotCands: Seq[Seq[String]]): Seq[(String, String)] =
    slotCands.sliding(2).flatMap {
      case Seq(a, b) => for (x <- a; y <- b) yield (x, y)
      case _ => Nil
    }.toSeq.distinct

  /** Doc-counts of the requested adjacent bigrams over an exploded
    * (term, docId, pos) position frame: equi-self-join on (docId,
    * pos + 1) restricted to the pair list (broadcast — it is tiny),
    * count distinct docs per pair. Shared by both searchers' phrase
    * suggesters.
    */
  def bigramCountsOf(exploded: DataFrame,
      pairs: Seq[(String, String)]): Map[(String, String), Long] = {
    val spark = exploded.sparkSession
    import spark.implicits._
    // the pair lists are driver-known and tiny (≤ slots × cap²), so
    // membership goes in as literal isin/equality predicates instead of
    // three broadcast joins — each broadcast was its own Spark job plus
    // an exchange in the plan (round-9: the phrase-suggest entry ran 17
    // jobs, 4 of them broadcast builds; guide §2.4)
    val aTerms = pairs.map(_._1).distinct
    val bTerms = pairs.map(_._2).distinct
    val lhs = exploded.filter(col("term").isin(aTerms: _*))
      .select(col("term").as("ta"), col("docId"), (col("pos") + lit(1)).as("nxt"))
    val rhs = exploded.filter(col("term").isin(bTerms: _*))
      .select(col("term").as("tb"), col("docId"), col("pos").as("nxt"))
    val pairPred = pairs
      .map { case (a, b) => col("ta") === lit(a) && col("tb") === lit(b) }
      .reduce(_ || _)
    lhs.join(rhs, Seq("docId", "nxt"))
      .filter(pairPred)
      .groupBy(col("ta"), col("tb"))
      .agg(countDistinct(col("docId")).as("n"))
      .as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
  }

  /** Shared ES `filters`-aggregation body: one conditional count per
    * named (field = value) bucket in a single agg, `stack`-unpivoted
    * in request order.
    */
  def filtersAggOf(joined: DataFrame,
      buckets: Seq[(String, (String, String))]): DataFrame = {
    val aggs = buckets.zipWithIndex.map { case ((_, (f, v)), i) =>
      count(when(col(f) === lit(v), 1)).as(s"__b_$i")
    }
    val stackArgs = buckets.zipWithIndex.map { case ((name, _), i) =>
      require(!name.contains("'"), s"bucket name '$name' must not contain quotes")
      s"'$name', __b_$i"
    }.mkString(", ")
    joined.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${buckets.size}, $stackArgs) as (key, n_docs)")
  }

  /** Shared ES `range`-aggregation body: every [from, to) bucket is a
    * conditional count in ONE agg over the (docId, field) match-set
    * join, unpivoted to rows via `stack` — single pass, no driver
    * materialization, request order preserved.
    */
  def rangesAggOf(joined: DataFrame, v: Column,
      ranges: Seq[(Option[Long], Option[Long])]): DataFrame = {
    val aggs = ranges.zipWithIndex.map { case ((from, to), i) =>
      val cond = (from, to) match {
        case (Some(f), Some(t)) => v >= lit(f) && v < lit(t)
        case (Some(f), None) => v >= lit(f)
        case (None, Some(t)) => v < lit(t)
        case (None, None) => lit(true)
      }
      count(when(cond, 1)).as(s"__r_$i")
    }
    val stackArgs = ranges.zipWithIndex.map { case ((f, t), i) =>
      val key = s"${f.map(_.toString).getOrElse("*")}-${t.map(_.toString).getOrElse("*")}"
      s"'$key', __r_$i"
    }.mkString(", ")
    joined.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${ranges.size}, $stackArgs) as (key, n_docs)")
  }

  /** Shared ES `terms`-aggregation order over (value, n_docs) buckets:
    * `size` > 0 keeps the top `size` by doc count desc (value asc
    * tiebreak — deterministic), ES's default bucket order, planned as
    * TakeOrderedAndProject over the agg (per-partition heaps, never a
    * global sort); 0 = every bucket, value-ordered.
    */
  def termsOrderOf(buckets: DataFrame, size: Int): DataFrame =
    if (size > 0) buckets.orderBy(col("n_docs").desc, col("value").asc).limit(size)
    else buckets.orderBy(col("value"))

  /** Shared ES `cardinality` body: distinct non-null values of `field`
    * in `joined` — exact count-distinct, or the HyperLogLog++ sketch when
    * `approximate`.
    */
  def cardinalityOf(joined: DataFrame, field: String, approximate: Boolean): Long = {
    val agg =
      if (approximate) joined.agg(approx_count_distinct(col(field)).as("c"))
      else joined.agg(countDistinct(col(field)).as("c"))
    agg.head().getLong(0)
  }

  /** Shared ES `percentiles` body: one (p, value) row per requested
    * percentile of `field` in `joined`, p ascending — Spark's exact
    * `percentile`, or the `percentile_approx` sketch when `approximate`.
    * Column API, not an expr() SQL string: field names with special
    * characters must never reach a SQL parser (round-6 review).
    */
  def percentilesOf(joined: DataFrame, field: String, ps: Seq[Double],
      approximate: Boolean): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "percentiles must be in [0, 1]")
    val pLits = array(ps.map(lit): _*)
    val aggExpr =
      if (approximate) percentile_approx(col(field), pLits, lit(10000))
      else percentile(col(field), pLits)
    joined.agg(aggExpr.as("vals"))
      .select(posexplode(col("vals")).as(Seq("pos", "value")))
      .select(element_at(pLits, col("pos").cast("int") + 1).as("p"),
        col("value").cast("double").as("value"))
      .orderBy(col("p"))
  }

  /** `function_score` field-value column as `__fv`: nulls substitute
    * the `missing` default when given, else fail LOUDLY on the first
    * null row (ES field_value_factor semantics — it errors without
    * `missing`; a silent NULL score would sort last yet still surface
    * when < k non-null hits exist, round-7 ADVICE). Shared by both
    * searchers' rescore paths.
    */
  def fvfValue(v: Column, field: String, missing: Option[Double]): Column =
    (missing match {
      case Some(m) => coalesce(v, lit(m))
      case None => when(v.isNull, raise_error(lit(
          s"function_score: doc has no value for field '$field' and no " +
            "`missing` default was given (ES field_value_factor contract)")))
        .otherwise(v)
    }).as("__fv")

  /** Shared collapse tail over the (docId, key, score) joined frame:
    * one `row_number` window (InferWindowGroupLimit ⇒ pre-shuffle
    * per-partition group limits of ≤ innerHits rows per key) ranks
    * within each group; the rank-1 rows pick the top-`k` GROUPS by
    * (best score desc, best docId asc) via TakeOrderedAndProject; the
    * kept groups' ≤ innerHits rows ride along broadcast-semi-joined
    * (k keys — tiny). Output: (key, hit_rank, doc_id, score), ordered
    * by (group best desc, group best docId asc, hit_rank asc) — the
    * ES collapse + inner_hits response flattened.
    */
  def collapseOf(joined: DataFrame, k: Int, innerHits: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("score").desc, col("docId").asc)
    val ranked = joined
      .withColumn("hit_rank", row_number().over(w))
      .filter(col("hit_rank") <= lit(innerHits))
    if (innerHits == 1)
      ranked.select(col("key"), col("hit_rank"), col("docId").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(k)
    else {
      val best = ranked.filter(col("hit_rank") === lit(1))
        .orderBy(col("score").desc, col("docId").asc).limit(k)
        .select(col("key"), col("score").as("__best"), col("docId").as("__bestId"))
      ranked.join(broadcast(best), Seq("key"))
        .select(col("key"), col("hit_rank"), col("docId").as("doc_id"), col("score"),
          col("__best"), col("__bestId"))
        .orderBy(col("__best").desc, col("__bestId").asc, col("hit_rank").asc)
        .drop("__best", "__bestId")
    }
  }

  /** The canonical PostingBlock columns, bound by name at every block
    * read (segments built by different writer revisions may carry extra
    * build-internal columns, e.g. the round-9 `nbytes` partials feed, and
    * cross-segment unionByName requires a stable schema).
    */
  val BlockCols: Seq[String] = Seq("termId", "shard", "bucket", "blockId", "firstDocId",
    "lastDocId", "count", "docs", "tfs", "dls", "poss", "maxTf", "maxScore")

  /** Sentinel termId of tombstone-exclusion blocks in a unioned block
    * scan (real termIds are non-negative).
    */
  val TombTermId = -1L

  /** Split a (seg, bucket) group's rows into (tombstone blocks, posting
    * rows).
    */
  def splitTomb(rows: Array[(Int, Int, PB)]): (Array[PB], Array[(Int, Int, PB)]) = {
    val (tombRows, postRows) = rows.partition(_._3.termId == TombTermId)
    (tombRows.map(_._3), postRows)
  }

  /** `bs` in docId order, checked docId-disjoint: one list over several
    * segments and buckets is sound only when their docId ranges do not
    * overlap (each batch is offset past the last, compaction shifts
    * buckets). Throws naming `what` and the first overlapping pair.
    */
  def docIdOrdered(what: String, bs: Array[PB]): Array[PB] = {
    val out = Wand.inBlockOrder(bs)
    var i = 1
    while (i < out.length) {
      val (a, b) = (out(i - 1), out(i))
      if (b.firstDocId <= a.lastDocId)
        throw new IllegalStateException(s"overlapping docId ranges in the blocks of " +
          s"'$what': [${a.firstDocId}, ${a.lastDocId}] (bucket ${a.bucket}) and " +
          s"[${b.firstDocId}, ${b.lastDocId}] (bucket ${b.bucket}) — segments must be " +
          "docId-disjoint")
      i += 1
    }
    out
  }

  /** The docIds of tombstone blocks, ascending — what a query's
    * [[Wand.SortedArrayCursor]] exclude reads (blocks of one group, or
    * every block after [[docIdOrdered]]).
    */
  def tombIds(blocks: Array[PB]): Array[Long] = {
    val bs = Wand.inBlockOrder(blocks)
    val out = new Array[Long](bs.iterator.map(_.count).sum)
    var at = 0
    for (b <- bs) { Codec.deltaDecodeInto(b.docs, b.count, b.firstDocId, out, at); at += b.count }
    out
  }

  /** (count, Σdl, per-field count / Σdl) of the tombstoned docs. */
  final case class RemovedStats(n: Long, sumDl: Long,
      fieldN: Map[String, Long], fieldSumDl: Map[String, Long])

  /** THE posting list of both query paths: term `t`'s blocks `bs` (every
    * segment's and bucket's on the warm path, one (segment, bucket)
    * group's on the distributed one) put in docId order, decoded and
    * scored once under the merged LWW stats — visible df `df` and the
    * corpus's (`nG`, `avgdlG`), or for a `%field:` term its field's
    * (docCount, avgdl) from `fsMap` (per-field BM25) — with each block
    * bounded by its exact maximum.
    */
  def postingList(t: String, bs: Array[PB], df: Long, nG: Long, avgdlG: Double,
      fsMap: Map[String, (Long, Double)]): Wand.PostingList = {
    val (nn, ad) = FieldTerms.textFieldOf(t).flatMap(fsMap.get).getOrElse((nG, avgdlG))
    Wand.PostingList.decoded(docIdOrdered(t, bs), Bm25.idf(df, nn), ad)
  }

  /** One group's WAND dispatch — THE shared execution body of every
    * query path (a (segment, bucket) group in the distributed
    * flatMapGroups closures, the whole corpus on the warm in-process
    * path; kept in the companion so task closures never capture a
    * Searcher), so the two are identical by construction. `byTerm` maps
    * each query term present in the group to its [[postingList]]; every
    * role gets a FRESH cursor (cursors are mutable). `tomb` = the group's
    * tombstoned docIds, ascending. Returns empty when the group is
    * missing a required term (any scored term under AND/phrase, or every
    * value of a filter clause).
    */
  def runGroup(
      byTerm: Map[String, Wand.PostingList],
      tomb: Array[Long],
      w: ResolvedQuery,
      k: Int
  ): Iterator[Scored] = {
    def iterOfG(t: String, scored: Boolean, g: Int): Option[Wand.TermIterator] =
      byTerm.get(t).map { l =>
        val boost = w.boosts.getOrElse(t, 1.0)
        new Wand.TermIterator(t, l, if (scored) boost * l.ub else 0.0, boost, g)
      }
    def iterOf(t: String, scored: Boolean): Option[Wand.TermIterator] =
      iterOfG(t, scored, Int.MinValue)
    // shared-term dis_max: one FRESH iterator per (group, term)
    val iters =
      if (w.bestFields != null && w.bestFields.groupsOf != null)
        w.scored.flatMap(t => w.bestFields.groupsOf.getOrElse(t, Seq(-1))
          .flatMap(g => iterOfG(t, scored = true, g)))
      else w.scored.flatMap(t => iterOf(t, scored = true))
    val shoulds = w.shoulds.flatMap(t => iterOf(t, scored = true))
    // AND/phrase: every scored term must be present; a required-group
    // term present globally but absent here ⇒ no hits. Checked before the
    // membership cursors are built (a cursor loads its first block)
    if ((w.scored.nonEmpty && iters.isEmpty) ||
      (iters.isEmpty && shoulds.isEmpty && w.prefixExpansions == null) ||
      ((w.conjunctive || w.slots != null) && iters.size < w.scored.size) ||
      shoulds.size < w.minShould) return Iterator.empty
    // match_phrase_prefix last slot: union of the expansions present in
    // this group (score 0 — membership only); none here ⇒ no hits
    val prefixMembers: Seq[Wand.TermIterator] =
      if (w.prefixExpansions == null) null
      else w.prefixExpansions.flatMap(t => iterOf(t, scored = false))
    if (prefixMembers != null && prefixMembers.isEmpty) return Iterator.empty
    // each clause → one cursor (union of its values' lists); a group
    // where a clause has NO member value has no matching docs
    val clauseCursors: Seq[Option[Wand.DocCursor]] = w.clauses.map { clause =>
      val members = clause.flatMap(t => iterOf(t, scored = false))
      if (members.isEmpty) None
      else if (members.size == 1) Some(members.head)
      else Some(new Wand.UnionCursor(members))
    }
    if (clauseCursors.exists(_.isEmpty)) Iterator.empty
    else {
      val filters = clauseCursors.flatten
      val excludes: Seq[Wand.DocCursor] =
        w.excludes.flatMap(t => iterOf(t, scored = false)) ++
          (if (tomb.isEmpty) Nil else Seq(new Wand.SortedArrayCursor(tomb)))
      val phraseLists: Seq[Wand.PosCursor] =
        if (prefixMembers == null) iters
        else iters :+ new Wand.UnionPosIterator(PrefixSlot, prefixMembers.toArray)
      val top =
        if (w.slots != null)
          Wand.topKPhrase(phraseLists, w.slots, k, filters, excludes, shoulds, w.minShould,
            w.after, w.slop, w.spanFirstEnd)
        else if (w.conjunctive)
          Wand.topKConjunctive(iters, k, filters, excludes, shoulds, w.minShould, w.after)
        else Wand.topK(iters, k, filters, excludes, shoulds, w.minShould, w.after,
          w.bestFields)
      top.iterator
    }
  }
}

/** THE query value of every ranked entry point and of the match set the
  * aggregations run over: each entry point builds one (a
  * [[BoolQuerySpec]] compiles to one), [[visibleIn]] resolves it against
  * the dictionaries, and the resolved value runs (serializable — it rides
  * the task closure of the one distributed job, or the warm in-process
  * call). OR (MaxScore), AND (intersection), or phrase (intersection +
  * position adjacency; `slots` = analyzed phrase terms in order, possibly
  * repeating). Once resolved, every term list holds only GLOBALLY-found
  * terms and `scored` / `excludes` are distinct and ascending;
  * [[Searcher.runGroup]] re-checks group-local presence. `clauses` are
  * required-but-unscored clauses (ES bool `filter` context): each is a
  * disjunction of fielded keyword terms ([[graft.index.FieldTerms]]) — a
  * `term` filter is a 1-element clause, a `terms`/`range` filter a
  * multi-element one; a doc must satisfy EVERY clause. `excludes` veto
  * their docs (`must_not`). `shoulds` are OPTIONAL scoring terms (ES bool
  * `should`): matched ones add score, and a doc must match ≥ `minShould`
  * of them. `after` is the ES `search_after` cursor on the (score desc,
  * docId asc) sort key.
  */
private[query] final case class ResolvedQuery(
    scored: Seq[String],
    shoulds: Seq[String] = Nil,
    clauses: Seq[Seq[String]] = Nil,
    excludes: Seq[String] = Nil,
    conjunctive: Boolean = false,
    slots: Seq[String] = null,
    minShould: Int = 0,
    slop: Int = 0,
    /** Per-term score multipliers (ES `multi_match` field boosts, keyed
      * by the namespaced term); absent terms score with boost 1.
      */
    boosts: Map[String, Double] = Map.empty,
    /** non-null = ES `multi_match` best_fields combination
      * ([[Wand.BestFields]]: score = best field's sum + tie_breaker ·
      * Σ others); null = the plain one-sum (most_fields) rule. OR-mode
      * only.
      */
    bestFields: Wand.BestFields = null,
    /** non-null = `match_phrase_prefix`: the dictionary terms the
      * phrase's LAST slot expanded to (capped, term-asc — the ES
      * rewrite); the slot matches when ANY of them occurs at the phrase
      * position ([[Wand.UnionPosIterator]]). `slots`' last element is
      * the [[Searcher.PrefixSlot]] placeholder.
      */
    prefixExpansions: Seq[String] = null,
    /** ≥ 0 = Lucene/ES `span_first`: the phrase (`slots`) must occur
      * with span end ≤ this bound — see [[Wand.topKPhrase]]. −1 = off.
      */
    spanFirstEnd: Int = -1,
    after: Scored = null) {

  /** Every dictionary term the query reads postings of. */
  def terms: Seq[String] =
    scored ++ shoulds ++ clauses.flatten ++ excludes ++ Option(prefixExpansions).getOrElse(Nil)

  /** This query restricted to the terms `found` in the visible corpus, or
    * None when it can have no hits there. These are the early-empty
    * rules of every query path; with every term found (`_ => true`) only
    * the rules that need no dictionary can fire.
    */
  def visibleIn(found: String => Boolean): Option[ResolvedQuery] = {
    val all = scored.distinct.sorted
    val sc = all.filter(found)
    val sh = shoulds.filter(found)
    val cl = clauses.map(_.filter(found))
    val px = if (prefixExpansions == null) null else prefixExpansions.filter(found)
    val empty =
      (all.isEmpty && shoulds.isEmpty && prefixExpansions == null) || // nothing to match
        (slots != null && slots.isEmpty) || // a phrase without tokens
        (all.nonEmpty && sc.isEmpty) || // every scored term absent
        ((conjunctive || slots != null) && sc.size < all.size) || // a required term absent
        cl.exists(_.isEmpty) || // a filter clause with no value present
        sh.size < minShould || // too few shoulds present
        (px != null && px.isEmpty) // no match_phrase_prefix expansion present
    if (empty) None
    else Some(copy(scored = sc, shoulds = sh, clauses = cl,
      excludes = excludes.distinct.sorted.filter(found), prefixExpansions = px))
  }
}

/** BM25 top-k execution over an index read as a list of SEGMENTS plus
  * tombstones — the query lifecycle the reference delegates to
  * Elasticsearch (SURVEY.md §3.3), Spark-native. A single built index
  * opens as one segment with no tombstones; a streaming dir opens as its
  * live `seg-*` segments ([[MultiSearcher]]) — each an independent
  * micro-batch index (NeoFinderToES.java:184-192 append runs) — queried
  * as ONE corpus.
  *
  * Plan shape per query: (1) analyze the query with the SAME analyzer as
  * index time; (2) dictionary lookup restricted to the query terms — one
  * unioned, metadata-size read over every segment, shard-pruned when the
  * shard count is known; (3) posting-block scan pruned by term-shard
  * partition dirs + termId pushed to parquet; (4) block-max top-k
  * ([[Wand.topK]] MaxScore, or the AND / phrase intersection) per
  * (segment, bucket) group — groups are docId-disjoint, so this is
  * embarrassingly parallel, exactly ES's shard-then-merge topology; (5)
  * tiny driver merge of the per-group top-k. A warmed searcher whose
  * index fits replaces (3)-(5) with ONE in-process WAND per query over
  * term-keyed, docId-ordered lists that span every segment and bucket
  * (zero Spark jobs, one top-k heap); both paths share
  * [[Searcher.runGroup]].
  *
  * Statistics are GLOBAL and merge associatively: N = Σ nᵢ, Σdl = Σ
  * (nᵢ·avgdlᵢ) (dl sums are integer-valued and < 2^52, so the per-segment
  * product rounds back to the exact integer sum), df(term) = Σ dfᵢ(term).
  *
  * LAST-WRITE-WINS across segments: docs superseded by a later re-ingest
  * of their (conv_id, turn_idx) key — or explicitly deleted — are listed
  * in the index's tombstone store ([[Tombstones]]); every query path
  * excludes tombstoned docIds, and NO query-path structure scales with
  * tombstone volume on the driver: WAND excludes via per-(segment,
  * bucket) delta-encoded docId blocks that ride the same pruned scan as
  * the posting blocks, the doc-store paths anti-join the tombstone frame,
  * and the per-term df corrections live in a persisted DISTRIBUTED frame
  * filtered to each query's terms (driver-cached only when bounded).
  * Global statistics are ADJUSTED EXACTLY — one bounded job re-derives
  * the superseded docs' N / Σdl / per-field / per-term contributions and
  * subtracts them — so scores are bit-identical to an index that never
  * contained the old versions, unlike Lucene's deleted-doc model where
  * IDF counts deletes until merge.
  *
  * Bounds: both paths decode a term's blocks once into one
  * [[Searcher.postingList]] scored under the merged stats, and bound each
  * block by the exact maximum of its scores — valid under any stats, and
  * bitwise the stored per-block maxScore when one segment without
  * tombstones is served (the stored bounds themselves are never read).
  * Exact per-posting scores from the stored (tf, dl) streams keep
  * results rank-identical to an exhaustive oracle.
  */
class Searcher private[query] (
    spark: SparkSession,
    indexDir: String,
    /** Term-shard count the dictionaries were built with; 0 = unknown
      * (dictionary lookups then skip the shard predicate).
      */
    numShards: Int,
    /** The segment index dirs served as one corpus. */
    val segments: Seq[String]) {
  import spark.implicits._

  /** A single built index: one segment, no tombstones. */
  def this(spark: SparkSession, indexDir: String, numShards: Int) =
    this(spark, indexDir, numShards, Seq(indexDir))

  private val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private lazy val segStats: Seq[IndexStats] =
    segments.map(s => spark.read.parquet(s"$s/stats").as[IndexStats].head())

  // ONE DataFrame per segment store, shared by every query path: a
  // `warm()`ed searcher persists these, and Spark's cache manager then
  // serves every pruned scan from the in-memory relation (plan-level
  // cache matching on the shared analyzed plan)
  private lazy val segDicts: Seq[DataFrame] =
    segments.map(s => spark.read.parquet(s"$s/dict"))
  private lazy val segBlocks: Seq[DataFrame] =
    segments.map(s => spark.read.parquet(s"$s/blocks").select(Searcher.BlockCols.map(col): _*))
  private lazy val segDocs: Seq[DataFrame] =
    segments.map(s => spark.read.parquet(s"$s/docs"))

  /** Every segment stores exists markers (format ≥ 2)? A legacy or
    * mixed-generation index fails `exists`/`missing` loudly — one legacy
    * segment would silently invert results for its docs (round-6
    * review).
    */
  private lazy val hasExistsMarkers: Boolean =
    segments.forall(s =>
      graft.index.IndexFormat.version(fs, s) >= graft.index.IndexFormat.Version)
  private def guardExists(exists: Seq[String], missing: Seq[String]): Unit =
    graft.index.IndexFormat.requireExistsMarkers(hasExistsMarkers, indexDir, exists, missing)

  // driver-local in-process serving state, populated by warm() ONLY when
  // the driver dictionary is loaded, every term's idf is fixed and the
  // decoded lists fit the byte budget (bounded collects); queries then run
  // WAND in-process with zero Spark jobs, which removes the ~100 ms
  // per-query job-scheduling floor. Other indexes keep the distributed
  // path — identical results, same runGroup.
  // term → one decoded list over every segment's and bucket's blocks
  @volatile private var localLists: Map[String, Wand.PostingList] = _
  // every tombstoned docId, ascending
  @volatile private var localTomb: Array[Long] = _
  // term → per-segment dictionary rows (driver lookup, zero jobs)
  @volatile private var localDict: Map[String, Seq[(Int, TermStats)]] = _
  // the resident bytes warm() estimated for the decoded lists (0 = not
  // estimated: no driver dictionary, or an idf not fixed at warm time)
  @volatile private[query] var localBytes: Long = 0L

  /** Does this searcher answer queries in-process (after [[warm]])? */
  private[query] def servesLocally: Boolean = localLists != null

  /** Resident heap bytes of a decoded warm list, per posting: docId (8),
    * tf (4), score (8) and position offset (4).
    */
  private val ResidentPostingBytes = 24L
  /** Per block: lastDocId (8), bound (8), start index (4), the position
    * stream's reference (4) and array header (16).
    */
  private val ResidentBlockBytes = 40L
  /** Per list: the list object, its eight array headers and the map
    * entry — 240–248 B measured (heap delta of 200,000 decoded lists of
    * 1, 4 and 200 postings, compressed oops), rounded up.
    */
  private val ResidentListBytes = 256L

  /** Pin blocks in executor memory and the dictionaries on the driver
    * (the "warm index" state a serving deployment runs in; spills to
    * disk if larger than memory). `maxDriverDictTerms` guards driver
    * memory — beyond it the dictionaries stay a distributed lookup.
    * `maxLocalBlockBytes` additionally enables the in-process serving
    * path (0 disables it): every term's blocks over all segments and
    * buckets are decoded ONCE into a flat list of docIds, tfs, exact
    * BM25 contributions and position offsets ([[Wand.PostingList]]), so
    * a warm query decodes and rescores nothing. The budget counts what
    * those lists hold on the heap — [[ResidentPostingBytes]] per
    * posting, the position bytes, [[ResidentBlockBytes]] per block,
    * [[ResidentListBytes]] per term and 8 B per tombstone — so the
    * default 1 GB admits ~40M postings. The path needs the driver
    * dictionary (it keys every segment's blocks by term) and every
    * term's idf fixed at warm time: no tombstones, or the removed-df
    * corrections cached on the driver ([[maxDriverRemovedTerms]]) — a
    * heavy-churn store stays distributed. Throws when two segments'
    * docId ranges overlap: one docId-ordered list per term needs
    * docId-disjoint segments.
    */
  def warm(maxDriverDictTerms: Long = 5_000_000L,
      maxLocalBlockBytes: Long = 1L << 30): this.type = {
    def pinned(df: DataFrame): DataFrame = {
      // idempotent persist: a second searcher over the same dir (or a
      // re-warm) must not re-ask the CacheManager (noisy WARN, no-op)
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
    // the pass that materializes each segment's block cache also sums the
    // decoded lists' per-block and per-posting resident bytes
    val blockBytes = segBlocks.map(b => pinned(b).agg(coalesce(sum(
      col("count") * lit(ResidentPostingBytes) + length(col("poss")) + lit(ResidentBlockBytes)),
      lit(0L))).head().getLong(0)).sum
    // one bounded collect per segment: the driver never holds more than
    // maxDriverDictTerms + 1 rows, and a segment past the cap is not read
    var remaining = maxDriverDictTerms
    val dictRows = segDicts.zipWithIndex.map { case (d, i) =>
      if (remaining < 0) Array.empty[(Int, TermStats)]
      else {
        val rows = d.as[TermStats].limit(math.min(remaining + 1, Int.MaxValue).toInt).collect()
        remaining -= rows.length
        rows.map(ts => (i, ts))
      }
    }
    if (remaining >= 0)
      localDict = dictRows.flatten.groupBy(_._2.term).view.mapValues(_.toSeq).toMap
    else segDicts.foreach(d => pinned(d).count())
    // every term's df (hence idf) fixed now: the scores can be stored
    if (maxLocalBlockBytes > 0 && localDict != null &&
      (!hasTombstones || removedDfSmall.isDefined)) {
      localBytes = blockBytes + localDict.size * ResidentListBytes + removedStats.n * 8L
      if (localBytes <= maxLocalBlockBytes) buildLocalLists()
    }
    this
  }

  /** Collect every segment's cached blocks (one job) and decode them into
    * one list per term, scored under the merged LWW statistics; terms
    * with no visible doc are dropped (no lookup returns them).
    */
  private def buildLocalLists(): Unit = {
    val termOf: Map[(Int, Long), String] = localDict.iterator
      .flatMap { case (t, xs) => xs.map { case (i, ts) => (i, ts.termId) -> t } }.toMap
    val rm = removedDfSmall.getOrElse(Map.empty)
    val (nG, adG, fsm) = (n, avgdl, fieldStatsMap)
    // set before the lists: a query that sees the lists reads it
    localTomb = Searcher.tombIds(Searcher.docIdOrdered("tombstones",
      tombBlocks.map(_.collect().map(_._3)).getOrElse(Array.empty)))
    localLists = segBlocks.zipWithIndex
      .map { case (b, i) =>
        b.select(lit(i).as("_1"), struct(Searcher.BlockCols.map(col): _*).as("_2"))
      }
      .reduce(_ unionByName _).as[(Int, PostingBlock)].collect()
      .map { case (i, pb) => termOf((i, pb.termId)) -> pb }
      .groupMap(_._1)(_._2).flatMap { case (t, bs) =>
        val df = localDict(t).iterator.map(_._2.df).sum - rm.getOrElse(t, 0L)
        if (df <= 0L) None else Some(t -> Searcher.postingList(t, bs, df, nG, adG, fsm))
      }
  }

  private lazy val rawN: Long = segStats.map(_.n).sum
  private lazy val rawSumDl: Long = segStats.map(st => math.round(st.avgdl * st.n)).sum

  /** Per-SEGMENT field stats (field → (docCount, Σdl)) — kept per
    * segment so dead-doc subtraction can be gated on whether a segment
    * actually INDEXED a field: a segment built without `textFieldCols`
    * may still carry a doc-store column of the same name, and its dead
    * docs must not subtract from field stats they never contributed to
    * (round-5 ADVICE).
    */
  private lazy val segFieldStats: Seq[Map[String, (Long, Long)]] =
    segments.map { s =>
      val p = new Path(s"$s/fieldstats")
      if (!fs.exists(p)) Map.empty[String, (Long, Long)]
      else spark.read.parquet(s"$s/fieldstats")
        .select(col("field"), col("ndocs"), col("sumdl"))
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    }

  /** Per-field (docCount, Σdl) of the additional analyzed text fields
    * (`IndexConfig.textFieldCols`), summed over segments (sums are
    * associative like N / Σdl); empty for indexes without `fieldstats/`.
    */
  private lazy val rawFieldStats: Map[String, (Long, Long)] =
    segFieldStats.foldLeft(Map.empty[String, (Long, Long)]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (f, (n1, s1))) =>
        val (n0, s0) = a.getOrElse(f, (0L, 0L))
        a.updated(f, (n0 + n1, s0 + s1))
      }
    }
  private lazy val fieldNames: Seq[String] = rawFieldStats.keys.toSeq.sorted

  /** Tombstone store present? One filesystem check per searcher — every
    * tombstone-dependent structure below is gated on it, so the
    * no-tombstone case (the common one) costs nothing.
    */
  private lazy val hasTombstones: Boolean = Tombstones.exists(spark, indexDir)
  private def tombDF: DataFrame = Tombstones.loadDF(spark, indexDir)

  /** One segment, no tombstones: only then are the segment's build-time
    * stats the global stats, and [[avgdl]] is the segment's stored avgdl
    * (the one its build scored under), not Σdl / N recomputed. That is
    * all it decides: query bounds always come from the decoded scores.
    */
  private[query] lazy val storedBounds: Boolean = segments.size == 1 && !hasTombstones

  /** Tombstone block size: exclusion blocks carry no payload worth
    * splitting finely — bigger blocks = fewer rows through the scan.
    */
  private val TombBlockSize = 4096

  /** Driver-cache cap for the removed-df correction map: below it the
    * corrections collect to a driver map (zero extra jobs per query);
    * above it they stay a persisted DISTRIBUTED frame filtered per
    * lookup — bounded driver memory at ANY tombstone volume (round-4
    * review "What's wrong #1").
    */
  private[graft] var maxDriverRemovedTerms: Int = 200000

  /** Disjoint (lo, hi, seg, bucket) docId intervals of every (segment,
    * bucket), from the blocks themselves (min firstDocId / max
    * lastDocId — manifest-independent, so compacted and foreign
    * segments resolve correctly). Sorted by lo for binary search. A
    * docId outside every interval has no postings anywhere and can
    * never be a WAND candidate, so it needs no exclusion block.
    */
  private lazy val bucketRanges: Array[(Long, Long, Int, Int)] =
    segBlocks.zipWithIndex.map { case (b, i) =>
      b.groupBy(col("bucket"))
        .agg(min(col("firstDocId")).as("lo"), max(col("lastDocId")).as("hi"))
        .select(lit(i).as("seg"), col("bucket"), col("lo"), col("hi"))
    }.reduce(_ unionByName _)
      .as[(Int, Int, Long, Long)].collect()
      .map { case (seg, bucket, lo, hi) => (lo, hi, seg, bucket) }
      .sortBy(_._1)

  /** Tombstoned docIds as per-(segment, bucket) delta-encoded docId
    * blocks (termId = [[Searcher.TombTermId]]) that ride the SAME pruned
    * scan as the posting blocks: each WAND group excludes via an
    * ordinary block cursor — NEVER a driver-side sorted array or a
    * broadcast ∝ tombstone volume. Built once per searcher (one
    * distributed encode job), persisted for reuse.
    */
  private lazy val tombBlocks: Option[Dataset[(Int, Int, PostingBlock)]] = {
    if (!hasTombstones) None
    else {
      val ranges = bucketRanges
      val los = ranges.map(_._1)
      val tbs = TombBlockSize
      val assigned = tombDF.as[Long]
        .flatMap { d =>
          var a = 0
          var b = los.length
          while (a < b) { val m = (a + b) >>> 1; if (los(m) <= d) a = m + 1 else b = m }
          val i = a - 1
          if (i >= 0 && d <= ranges(i)._2) Some((ranges(i)._3, ranges(i)._4, d)) else None
        }
        .toDF("seg", "bucket", "docId")
      val enc = assigned
        .repartition(col("seg"), col("bucket"))
        .sortWithinPartitions(col("seg"), col("bucket"), col("docId"))
        .as[(Int, Int, Long)]
        .mapPartitions { it =>
          // run-grouped streaming encode: ≤ TombBlockSize ids in memory
          val buf = it.buffered
          new Iterator[(Int, Int, PostingBlock)] {
            override def hasNext: Boolean = buf.hasNext
            override def next(): (Int, Int, PostingBlock) = {
              val (seg, bucket, _) = buf.head
              val ids = new scala.collection.mutable.ArrayBuffer[Long](256)
              while (buf.hasNext && buf.head._1 == seg && buf.head._2 == bucket &&
                ids.length < tbs) ids += buf.next()._3
              val arr = ids.toArray
              val k = arr.length
              val blk = Codec.encodeBlocks(Searcher.TombTermId, 0, bucket, arr,
                Array.fill(k)(1), Array.fill(k)(0), Array.fill(k)(0.0),
                Array.fill(k)(Array.emptyByteArray), tbs).next()
              (seg, bucket, blk)
            }
          }
        }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      enc.count()
      Some(enc)
    }
  }

  /** The tombstoned docs themselves (docId-range-pruned semi-join of the
    * doc stores: pushed bounds let parquet row-group stats skip
    * unaffected segments), with field columns normalized — shared by the
    * scalar-stats aggregate and the removed-df frame. Persisted once per
    * searcher; only evaluated when tombstones exist.
    */
  private lazy val deadDocs: DataFrame = {
    val r = tombDF.agg(min(col("docId")), max(col("docId"))).head()
    val lo = r.getLong(0)
    val hi = r.getLong(1)
    val union = segDocs.zipWithIndex.map { case (d, i) =>
      // a field column counts ONLY for segments that actually indexed
      // the field (own fieldstats entry) — round-5 ADVICE
      val fcols = fieldNames.map { f =>
        (if (segFieldStats(i).contains(f) && d.columns.contains(f)) col(f).cast("string")
         else lit(null).cast("string")).as(s"__f_$f")
      }
      d.select(Seq(col("docId"), col("dl"), col("text")) ++ fcols: _*)
        .filter(col("docId") >= lit(lo) && col("docId") <= lit(hi))
    }.reduce(_ unionByName _)
    union.join(tombDF, Seq("docId"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Exact statistic contributions of the tombstoned docs, re-derived
    * from the doc stores in one range-pruned job. Subtracting them makes
    * every stat exact over the LWW-visible corpus (StreamingSpec pins
    * this against the exhaustive oracle AND the compacted index).
    */
  private lazy val removedStats: Searcher.RemovedStats = {
    if (!hasTombstones) Searcher.RemovedStats(0L, 0L, Map.empty, Map.empty)
    else {
      val aggCols = Seq(count(lit(1)).as("__c"), coalesce(sum(col("dl")), lit(0L)).as("__s")) ++
        fieldNames.flatMap { f =>
          val d = coalesce(Analyzer.dlCol(col(s"__f_$f")), lit(0))
          Seq(count(when(d > lit(0), 1)).as(s"__n_$f"),
            coalesce(sum(d.cast("long")), lit(0L)).as(s"__s_$f"))
        }
      val row = deadDocs.agg(aggCols.head, aggCols.tail: _*).head()
      Searcher.RemovedStats(row.getAs[Long]("__c"), row.getAs[Long]("__s"),
        fieldNames.map(f => f -> row.getAs[Long](s"__n_$f")).toMap,
        fieldNames.map(f => f -> row.getAs[Long](s"__s_$f")).toMap)
    }
  }

  /** Per-term df corrections of the tombstoned docs — their DISTINCT
    * terms per namespace (main-text tokens plus each field's tokens
    * namespaced), counted. Kept as a persisted DISTRIBUTED frame: driver
    * memory never scales with the dead docs' vocabulary;
    * [[removedDfFor]] filters it to the query's own terms.
    */
  private lazy val removedDfDF: Option[DataFrame] = {
    if (!hasTombstones) None
    else {
      def toksOf(c: Column) = coalesce(Analyzer.tokensCol(c), array().cast("array<string>"))
      val termsExpr = fieldNames.foldLeft(array_distinct(toksOf(col("text")))) { (acc, f) =>
        concat(acc, transform(array_distinct(toksOf(col(s"__f_$f"))),
          t => concat(lit(FieldTerms.textTerm(f, "")), t)))
      }
      val frame = deadDocs
        .select(explode(termsExpr).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("removed"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      frame.count()
      Some(frame)
    }
  }

  /** Bounded driver cache of the corrections: collected only when the
    * dead vocabulary fits [[maxDriverRemovedTerms]] (zero extra jobs per
    * query — the common, compaction-bounded case); a heavy-churn store
    * keeps the distributed path.
    */
  private lazy val removedDfSmall: Option[Map[String, Long]] =
    removedDfDF.flatMap { f =>
      val rows = f.limit(maxDriverRemovedTerms + 1).as[(String, Long)].collect()
      if (rows.length > maxDriverRemovedTerms) None else Some(rows.toMap)
    }

  /** Removed-df corrections for exactly `terms` — a driver-map lookup
    * when cached, else one distributed filter returning ≤ |terms| rows.
    */
  private def removedDfFor(terms: Seq[String]): Map[String, Long] =
    removedDfDF match {
      case None => Map.empty
      case Some(frame) =>
        removedDfSmall match {
          case Some(m) => terms.iterator.flatMap(t => m.get(t).map(t -> _)).toMap
          case None => frame.filter(col("term").isin(terms: _*))
            .as[(String, Long)].collect().toMap
        }
    }

  /** Global corpus stats over the LWW-visible union of all segments. */
  lazy val n: Long = rawN - removedStats.n
  lazy val sumDl: Long = rawSumDl - removedStats.sumDl
  lazy val avgdl: Double =
    if (storedBounds) segStats.head.avgdl else if (n == 0) 0.0 else sumDl.toDouble / n

  /** Merged per-field (docCount, avgdl) over the LWW-visible union —
    * the same exact-subtraction rule as N / avgdl.
    */
  lazy val fieldStatsMap: Map[String, (Long, Double)] =
    rawFieldStats.map { case (f, (n0, s0)) =>
      val nf = n0 - removedStats.fieldN.getOrElse(f, 0L)
      val sf = s0 - removedStats.fieldSumDl.getOrElse(f, 0L)
      f -> (nf, if (nf == 0) 0.0 else sf.toDouble / nf)
    }

  /** Per-segment dictionary rows for the query terms + merged global df.
    * Returns (globalDf by term, per-segment rows by (segIdx, term)). Warm:
    * driver maps, zero jobs. Cold: ONE unioned scan + one collect for ALL
    * segments (query latency must not grow one-job-per-segment with the
    * micro-batch count), shard-pruned when the shard count is known.
    */
  private def lookup(terms: Seq[String]): (Map[String, Long], Map[(Int, String), TermStats]) = {
    if (terms.isEmpty) return (Map.empty, Map.empty)
    // exact LWW df: subtract the tombstoned docs' contribution; a term
    // living ONLY in superseded docs vanishes (absent from the visible
    // corpus — conjunctive queries on it must return empty). On the
    // COLD uncached-corrections path the corrections broadcast-join INTO
    // the unioned dict scan, so the heavy-churn case costs the same ONE
    // job as the common case (round-5 review "What's wrong #3").
    var dfRemoved: Map[String, Long] = Map.empty
    val perSeg: Map[(Int, String), TermStats] =
      if (localDict != null) {
        dfRemoved = removedDfFor(terms)
        terms.flatMap(t => localDict.getOrElse(t, Nil).map { case (i, ts) => (i, t) -> ts }).toMap
      } else {
        val termPred =
          if (numShards <= 0) col("term").isin(terms: _*)
          else col("shard").isin(terms.map(GraftHash.shardOf(_, numShards)).distinct: _*) &&
            col("term").isin(terms: _*)
        val unioned = segDicts.zipWithIndex.map { case (d, i) =>
          d.filter(termPred)
            .select(lit(i).as("seg"), col("term"), col("termId"), col("shard"),
              col("df"), col("cf"), col("maxScore"))
        }.reduce(_ unionByName _)
        val joinFrame = removedDfDF.filter(_ => removedDfSmall.isEmpty)
        val withRm = joinFrame match {
          case Some(frame) =>
            unioned.join(broadcast(frame.filter(col("term").isin(terms: _*))),
              Seq("term"), "left")
              .select(col("seg"), col("term"), col("termId"), col("shard"),
                col("df"), col("cf"), col("maxScore"),
                coalesce(col("removed"), lit(0L)).as("removed"))
          case None => unioned.withColumn("removed", lit(0L))
        }
        val rows = withRm
          .as[(Int, String, Long, Int, Long, Long, Double, Long)].collect()
        if (joinFrame.isDefined)
          dfRemoved = rows.iterator.filter(_._8 > 0L).map(r => r._2 -> r._8).toMap
        else dfRemoved = removedDfFor(terms)
        rows.map { case (i, t, tid, sh, df, cf, ms, _) =>
          (i, t) -> TermStats(t, tid, sh, df, cf, ms)
        }.toMap
      }
    val dfGlobal = perSeg.toSeq.groupBy(_._1._2)
      .map { case (t, xs) => t -> (xs.map(_._2.df).sum - dfRemoved.getOrElse(t, 0L)) }
      .filter(_._2 > 0L)
    (dfGlobal, perSeg)
  }

  /** Dictionary rows of the visible query terms, df = the merged LWW df
    * (termId/shard are those of one segment holding the term).
    */
  def lookupTerms(terms: Seq[String]): Map[String, TermStats] = {
    val (dfGlobal, perSeg) = lookup(terms.distinct.sorted)
    perSeg.collect { case ((_, t), ts) if dfGlobal.contains(t) => t -> ts.copy(df = dfGlobal(t)) }
  }

  /** Per-segment block scans pruned to the rows of `perSeg` whose term
    * `keep` admits — shard is a partition dir (partition pruning), termId
    * (int64) is pushed to parquet row groups (blocks are termId-sorted
    * within files) — tagged `seg` and unioned. None when no segment
    * holds any of the terms.
    */
  private def prunedBlocks(perSeg: Map[(Int, String), TermStats],
      keep: String => Boolean): Option[DataFrame] =
    segBlocks.zipWithIndex.flatMap { case (b, i) =>
      val ids = perSeg.collect { case ((`i`, t), ts) if keep(t) => ts }.toSeq
      if (ids.isEmpty) None
      else Some(b.filter(col("shard").isin(ids.map(_.shard).distinct: _*) &&
          col("termId").isin(ids.map(_.termId): _*))
        .withColumn("seg", lit(i)))
    }.reduceOption(_ unionByName _)

  /** THE top-k query path: one dictionary lookup for every query's terms,
    * [[ResolvedQuery.visibleIn]] per query, then one [[execute]] of the
    * queries that can have hits. Results align with `queries`. `from`
    * skips each query's first `from` ranked hits (the top-k heap grows to
    * from + k — the documented ES deep-paging cost). k = 0 runs nothing.
    */
  private def runAll(queries: Seq[ResolvedQuery], k: Int, from: Int = 0): Seq[Array[Scored]] = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(from >= 0, s"from must be >= 0, got $from")
    val none = queries.map(_ => Array.empty[Scored])
    // a query empty whatever the dictionary holds adds no terms to look up
    val possible = queries.filter(_.visibleIn(_ => true).isDefined)
    if (k == 0 || possible.isEmpty) return none
    val (dfGlobal, perSeg) = lookup(possible.flatMap(_.terms).distinct.sorted)
    val active = queries.zipWithIndex.flatMap { case (q, i) =>
      q.visibleIn(dfGlobal.contains).map(i -> _)
    }
    if (active.isEmpty) return none
    val hits = active.map(_._1).zip(execute(active.map(_._2), from + k, perSeg, dfGlobal)).toMap
    queries.indices.map(i => hits.get(i) match {
      case Some(h) => if (from == 0) h else h.slice(from, from + k)
      case None => Array.empty[Scored]
    })
  }

  private def runOne(q: ResolvedQuery, k: Int, from: Int = 0): Array[Scored] =
    runAll(Seq(q), k, from).head

  /** Run resolved queries; results align with `work`. A warm searcher
    * runs them in-process over its term-keyed lists ([[runLocal]]).
    * Otherwise ONE Spark job runs every query per (segment, bucket)
    * group — its pruned block scan covers the union of every query's
    * terms (plus the tombstone blocks) — and the batch's tiny (≤ queries
    * × groups × k) result set merges on the driver.
    */
  private def execute(work: Seq[ResolvedQuery], k: Int,
      perSeg: Map[(Int, String), TermStats],
      dfGlobal: Map[String, Long]): Seq[Array[Scored]] = {
    if (localLists != null) return runLocal(work, k)
    val needed = work.flatMap(_.terms).toSet
    // termId is segment-local: key block groups by (segIdx, termId);
    // terms whose visible df fell to zero are pruned from the scan
    val idToTerm: Map[(Int, Long), (String, Long)] = perSeg.collect {
      case ((i, t), ts) if needed.contains(t) && dfGlobal.contains(t) =>
        (i, ts.termId) -> (t, dfGlobal(t))
    }
    val pruned = prunedBlocks(perSeg, t => needed.contains(t) && dfGlobal.contains(t))
      .getOrElse(return work.map(_ => Array.empty[Scored]))
    val all = withTombBlocks(pruned
      .select(col("seg").as("_1"), col("bucket").as("_2"),
        struct(Searcher.BlockCols.map(col): _*).as("_3"))
      .as[(Int, Int, PostingBlock)])
    val nG = n
    val avgdlG = avgdl
    val fsMap = fieldStatsMap
    // the task closure captures only these locals and the companion's
    // runGroup, never this Searcher
    val rows = all
      .groupByKey { case (seg, bucket, _) => (seg, bucket) }
      .flatMapGroups { (_, it) =>
        val (tombBlks, grp) = Searcher.splitTomb(it.toArray)
        if (grp.isEmpty) Iterator.empty
        else {
          val segIdx = grp.head._1
          val byTerm: Map[String, Wand.PostingList] =
            grp.map(_._3).groupBy(_.termId).map { case (tid, bs) =>
              val (t, df) = idToTerm((segIdx, tid))
              t -> Searcher.postingList(t, bs, df, nG, avgdlG, fsMap)
            }
          val tomb = Searcher.tombIds(tombBlks)
          work.iterator.zipWithIndex.flatMap { case (w, j) =>
            Searcher.runGroup(byTerm, tomb, w, k).map(s => (j, s.docId, s.score))
          }
        }
      }
    // one query: Catalyst plans TakeOrderedAndProject (per-partition
    // heap + driver merge of ≤ k rows)
    val top = if (work.size == 1) rows.orderBy(col("_3").desc, col("_2").asc).limit(k) else rows
    val grouped = top.collect().groupBy(_._1)
    work.indices.map { j =>
      grouped.getOrElse(j, Array.empty)
        .map(r => Scored(r._2, r._3))
        .sorted(Scored.Ranking)
        .take(k)
    }
  }

  /** Union `base` (a pruned posting-block scan keyed (seg, bucket)) with
    * the tombstone exclusion blocks.
    */
  private def withTombBlocks(base: Dataset[(Int, Int, PostingBlock)])
      : Dataset[(Int, Int, PostingBlock)] =
    tombBlocks.map(base.union(_)).getOrElse(base)

  /** In-process execution over the warm term-keyed lists (zero Spark
    * jobs), on the calling thread: each query is ONE
    * [[Searcher.runGroup]] over the whole corpus — one cursor per term
    * across every segment and bucket, one θ and one top-k heap — so its
    * cost does not grow with the number of (segment, bucket) groups.
    * A resolved query names only terms the lookup found, each of which
    * has a warm list.
    */
  private def runLocal(work: Seq[ResolvedQuery], k: Int): Seq[Array[Scored]] =
    work.map(w => Searcher.runGroup(localLists, localTomb, w, k).toArray)

  /** Disjunctive (OR / ES `match`) BM25 top-k. `from` = pagination
    * offset (skip the first `from` ranked hits; the top-k heap grows to
    * from + k — the documented ES deep-paging cost).
    */
  def search(query: String, k: Int, from: Int = 0): Array[Scored] =
    runOne(ResolvedQuery(Analyzer.analyzeQuery(query).toSeq), k, from)

  /** ES `search_after` page continuation: the next k hits strictly after
    * the (score, docId) cursor — sound with WAND because the cursor only
    * filters offers; pruning still uses the page's own θ.
    */
  def searchAfter(query: String, k: Int, after: Scored): Array[Scored] =
    runOne(ResolvedQuery(Analyzer.analyzeQuery(query).toSeq, after = after), k)

  /** Conjunctive (AND) BM25 top-k. */
  def searchConjunctive(query: String, k: Int, from: Int = 0): Array[Scored] =
    runOne(ResolvedQuery(Analyzer.analyzeQuery(query).toSeq, conjunctive = true), k, from)

  /** Phrase top-k (ES `match_phrase`): docs whose analyzed token stream
    * contains the analyzed query tokens ADJACENTLY in order, ranked by
    * the BM25 sum of the phrase's distinct terms. Needs an index built
    * with storePositions (default); positions are stored per posting, so
    * adjacency needs no segment-level state.
    */
  def searchPhrase(query: String, k: Int, from: Int = 0,
      /** ES `slop` — full Lucene sloppy-phrase semantics: positional
        * moves over offset-adjusted positions, so reordered terms match
        * from slop ≥ 2 (a transposed bigram has width 2); 0 = exact
        * adjacency.
        */
      slop: Int = 0): Array[Scored] = {
    val slots = Analyzer.tokenize(query).toSeq // order + duplicates kept
    runOne(ResolvedQuery(slots, slots = slots, slop = slop), k, from)
  }

  /** Lucene/ES `span_first`: the analyzed query must occur — exact
    * adjacency for multi-token queries — with span END (last token's
    * 0-based position + 1) ≤ `end`, i.e. inside the field's first `end`
    * token positions (Lucene SpanFirstQuery's `end() ≤ end` rule;
    * transcripts: "conversations OPENING with …"). Scoring: the engine's
    * phrase rule — BM25 sum of the distinct query terms over matching
    * docs. Rides the positional phrase matcher (the span gate evaluates
    * per aligned candidate on the already-decoded positions, so WAND
    * pruning and block-max skipping apply unchanged); needs positions.
    * Sloppy spans are out of scope (ES `span_near` slop is a different
    * operator — not `match_phrase` slop).
    */
  def searchSpanFirst(query: String, end: Int, k: Int): Array[Scored] = {
    require(end > 0, "span_first end must be positive")
    val slots = Analyzer.tokenize(query).toSeq
    runOne(ResolvedQuery(slots, slots = slots, spanFirstEnd = end), k)
  }

  /** ES `min_score`: the plain disjunctive top-k with hits scoring below
    * `minScore` removed. Filtering AFTER the top-k is exact: every doc
    * beyond rank k scores ≤ the rank-k score, so a sub-threshold doc
    * inside the page implies every doc outside it is sub-threshold too —
    * filter(top-k) ≡ top-k(filter).
    */
  def searchMinScore(query: String, k: Int, minScore: Double): Array[Scored] =
    search(query, k).filter(_.score >= minScore)

  /** Lucene/ES `query_string` execution: [[QueryString.parse]]d into a
    * [[BoolQuerySpec]] and run through the batched bool path (one job).
    * Throws IllegalArgumentException on unsupported syntax — see
    * [[QueryString]] for the grammar.
    */
  def searchQueryString(q: String, k: Int,
      schema: QueryString.Schema = QueryString.Schema()): Array[Scored] =
    searchManyBool(Seq(QueryString.parse(q, schema)), k).head

  /** ES `match_phrase_prefix`: the analyzed query matched as a phrase
    * whose LAST token is a PREFIX — expanded against the dictionary
    * (term-asc, capped at `maxExpansions`, exactly the `searchPrefix`
    * rewrite) into one multi-term slot ([[Wand.UnionPosIterator]],
    * Lucene's MultiPhraseQuery position): the doc matches when the fixed
    * tokens are followed by ANY expansion at the phrase position.
    * Scoring: the engine's phrase rule — the BM25 sum of the FIXED
    * distinct terms (the expanded slot gates membership only; a
    * single-token query therefore ranks all prefix-matching docs at
    * score 0 — use [[searchPrefix]] for scored pure-prefix queries).
    * `slop` > 0 applies the sloppy model; with an expansion identical to
    * a fixed term the sloppy matcher may reuse a token occurrence across
    * those two slots (slop = 0 adjacency is always exact). `field`
    * expands and matches within that analyzed field.
    */
  def searchPhrasePrefix(query: String, k: Int, maxExpansions: Int = 50,
      slop: Int = 0, from: Int = 0, field: String = "text"): Array[Scored] = {
    val toks = Analyzer.tokenize(query).toSeq
    if (toks.isEmpty) return Array.empty
    val p = toks.last
    val fixed = toks.init.map(t => FieldTerms.textTerm(field, t))
    val exp = expand(_.startsWith(p), _.startsWith(p), maxExpansions, field)
    runOne(ResolvedQuery(fixed, slots = fixed :+ Searcher.PrefixSlot, slop = slop,
      prefixExpansions = exp.map(_._1).sorted), k, from)
  }

  /** Batched execution: N OR queries through the one-job batched path
    * ([[searchManyBool]]) — the throughput (QPS) shape. Results are
    * identical to per-query [[search]] (tested).
    */
  def searchMany(queries: Seq[String], k: Int): Map[String, Array[Scored]] = {
    val qs = queries.distinct
    qs.zip(searchManyBool(qs.map(q => BoolQuerySpec(query = q)), k)).toMap
  }

  /** The query values of bool specs, with ONE range expansion for the
    * whole batch. Per spec: the `must` text's terms (`field` scores under
    * that field's stats; non-empty `multiMatchFields` overrides it, every
    * (field, boost) scoring the query's tokens boost-scaled), the
    * `should` terms not already in the must group, one filter clause per
    * keyword / terms / trie-range / exists / lexicographic-range filter,
    * and the must_not terms (keyword values, missing-field exists
    * markers, the analyzed tokens of `mustNotText`).
    */
  private def compile(specs: Seq[BoolQuerySpec]): Seq[ResolvedQuery] = {
    specs.foreach(sp => guardExists(sp.exists, sp.missing))
    val rangeExp = expandFieldRanges(specs.flatMap(_.rangeFilters))
    specs.map { sp =>
      val mm = sp.multiMatchFields
      require(mm.isEmpty || (!sp.phrase && !sp.conjunctive),
        "multiMatchFields is OR-mode only (like multiMatch)")
      val toks = Analyzer.tokenize(sp.query).toSeq
      val slots = if (sp.phrase) toks.map(t => FieldTerms.textTerm(sp.field, t)) else null
      val fieldBoosts = if (mm.nonEmpty) mm else Seq(sp.field -> 1.0)
      val termBoosts = for ((f, b) <- fieldBoosts; t <- toks.distinct)
        yield FieldTerms.textTerm(f, t) -> b
      val scored = termBoosts.map(_._1).distinct.sorted
      ResolvedQuery(scored,
        shoulds = Analyzer.analyzeQuery(sp.should).filterNot(scored.contains).toSeq,
        clauses = sp.filters.map { case (f, v) => Seq(FieldTerms.term(f, v)) } ++
          sp.anyFilters.map { case (f, vs) => vs.distinct.map(v => FieldTerms.term(f, v)) } ++
          sp.numericRangeFilters.map { case (f, lo, hi) => FieldTerms.trieRangeTerms(f, lo, hi) } ++
          sp.exists.map(f => Seq(FieldTerms.existsTerm(f))) ++
          sp.rangeFilters.map(rangeExp),
        excludes = sp.mustNot.map { case (f, v) => FieldTerms.term(f, v) } ++
          sp.missing.map(f => FieldTerms.existsTerm(f)) ++
          sp.mustNotText.flatMap { case (f, w) =>
            Analyzer.tokenize(w).map(t => FieldTerms.textTerm(f, t)) },
        conjunctive = sp.conjunctive, slots = slots, minShould = sp.minShouldMatch,
        slop = sp.phraseSlop,
        boosts = if (mm.isEmpty) Map.empty else termBoosts.toMap,
        bestFields =
          if (mm.nonEmpty && sp.multiMatchBest) Wand.BestFields.of(mm.map(_._1), toks, sp.tieBreaker)
          else null)
    }
  }

  /** Batched execution of FULL bool queries — the ES `_msearch` shape: N
    * heterogeneous queries (OR / AND / phrase+slop / filters / must_not /
    * terms / trie ranges / lexicographic ranges / should +
    * minimum_should_match / multi_match) compiled to query values and run
    * by the one top-k path in ONE Spark job: one batched range expansion,
    * one dictionary lookup and one pruned block scan cover the union of
    * every spec's terms. Each spec is exactly the query value its
    * standalone [[searchBool]] call builds, so results are identical to
    * issuing the specs one at a time (test-pinned). Warm searchers answer
    * in-process with zero jobs.
    */
  def searchManyBool(specs: Seq[BoolQuerySpec], k: Int): Seq[Array[Scored]] =
    runAll(compile(specs), k)

  /** Fielded `match` (ES `{"match": {"<field>": ...}}`): BM25 top-k over
    * ONE analyzed text field of an index built with
    * `IndexConfig.textFieldCols`. Scores use the FIELD's own statistics
    * — df per `%field:token` term, the field's dl in every posting,
    * (docCount, avgdl) from `fieldstats/` (merged over segments with
    * exact tombstone subtraction) — exactly Lucene's per-field model, so
    * a doc's score depends only on that field's content. `field =
    * "text"` is the main field (≡ [[search]]). `phrase` matches the
    * tokens adjacently within the field (positions are per-field).
    */
  def searchField(field: String, query: String, k: Int,
      conjunctive: Boolean = false, phrase: Boolean = false,
      from: Int = 0, slop: Int = 0): Array[Scored] =
    runOne(compile(Seq(BoolQuerySpec(query, field = field, conjunctive = conjunctive,
      phrase = phrase, phraseSlop = slop))).head, k, from)

  /** ES `multi_match`: the query's terms score over EVERY listed field
    * under that field's own statistics, scaled by the field's boost.
    * Default mode is most_fields (summed): a doc qualifies by matching
    * ≥ 1 (field, term) pair and its score is ONE sum over all matched
    * pairs in ascending namespaced-term order (the engine-wide
    * determinism rule). `bestFields = true` switches to ES's DEFAULT
    * `best_fields` mode: score = the best field's (boost-scaled) sum +
    * `tieBreaker` · Σ the other fields' sums ([[Wand.BestFields]] —
    * tieBreaker = 0 is pure dis-max, tieBreaker = 1 ≡ most_fields
    * bit-exactly). `fields` are (field, boost) with `"text"` = the main
    * field.
    */
  def multiMatch(query: String, fields: Seq[(String, Double)], k: Int,
      from: Int = 0,
      bestFields: Boolean = false,
      tieBreaker: Double = 0.0): Array[Scored] = {
    require(fields.map(_._1).distinct.size == fields.size, "duplicate field in multiMatch")
    val toks = Analyzer.analyzeQuery(query).toSeq
    val termBoosts: Seq[(String, Double)] =
      for ((f, b) <- fields; t <- toks) yield FieldTerms.textTerm(f, t) -> b
    val bf = if (bestFields) Wand.BestFields.of(fields.map(_._1), toks, tieBreaker) else null
    runOne(ResolvedQuery(termBoosts.map(_._1), boosts = termBoosts.toMap, bestFields = bf),
      k, from)
  }

  /** ES `bool` query: `query` scores (as OR / AND / phrase per the
    * flags), `filters` are filter-context clauses — docs must carry the
    * EXACT field value, matched against the fielded keyword terms an
    * index built with `IndexConfig.fieldCols` stores
    * ([[graft.index.FieldTerms]]) — and `mustNot` excludes docs carrying
    * a value. Filter/must_not clauses never contribute to the score
    * (exact ES filter-context semantics), so scores equal the plain
    * query's scores on the surviving docs.
    *
    * Scale shape: a filter clause is ONE extra posting list in the
    * per-group WAND — no doc-store scan, no post-filter of an oversized
    * top-k (which would be unsound), no broadcast of a docId set.
    */
  def searchBool(
      query: String,
      k: Int,
      filters: Seq[(String, String)] = Nil,
      mustNot: Seq[(String, String)] = Nil,
      conjunctive: Boolean = false,
      phrase: Boolean = false,
      /** ES `terms` filter clauses: doc must carry ANY of the values
        * (one union cursor per clause).
        */
      anyFilters: Seq[(String, Seq[String])] = Nil,
      /** ES `range` filter clauses on keyword fields: (field, lo, hi),
        * INCLUSIVE, LEXICOGRAPHIC value order (exact for fixed-width
        * encodings — zero-pad numerics at index time, ISO-8601 dates
        * sort naturally). Expanded against the dictionary (uncapped — a
        * silent expansion cap would drop matching docs), so use
        * [[numericRangeFilters]] for high-cardinality numeric fields.
        */
      rangeFilters: Seq[(String, String, String)] = Nil,
      /** ES `range` clauses on NUMERIC fields indexed via
        * `IndexConfig.numericFieldCols`: (field, lo, hi) inclusive,
        * answered by the tiered trie decomposition
        * ([[graft.index.FieldTerms.trieRangeTerms]]) — a BOUNDED term
        * clause (≤ 512) at ANY value cardinality; no dictionary range
        * scan, no driver-side per-value expansion.
        */
      numericRangeFilters: Seq[(String, Long, Long)] = Nil,
      /** ES `exists` filter clauses: the doc must HAVE each listed field
        * (non-null keyword/numeric value, ≥ 1 token for analyzed text
        * fields) — answered by the `_field_names`-style exists marker an
        * index built with field columns stores
        * ([[graft.index.FieldTerms.existsTerm]]): one more posting
        * cursor, never a doc-store scan.
        */
      exists: Seq[String] = Nil,
      /** ES `must_not exists` ("missing"): docs carrying the field are
        * vetoed — the exists marker rides the must_not cursor set.
        */
      missing: Seq[String] = Nil,
      /** ES bool `must_not` over ANALYZED text ((field, token), "text" =
        * main field — the Lucene `-term` clause): the token's docs are
        * vetoed via the same exclude cursors as keyword mustNot.
        */
      mustNotText: Seq[(String, String)] = Nil,
      /** ES bool `should`: an analyzed query whose terms optionally add
        * score (terms already in the must query are dropped — groups
        * must be disjoint).
        */
      should: String = "",
      /** ES `minimum_should_match`: a doc must match ≥ this many
        * distinct should terms. With an empty `query`, shoulds alone
        * drive the search (pure m-of-n).
        */
      minShouldMatch: Int = 0,
      /** Pagination offset (ES `from`): skip the first `from` hits of
        * the (score desc, docId asc) ranking. Deep paging costs from + k
        * per group — the documented ES tradeoff; prefer
        * [[searchAfter]]-style cursors for deep pages.
        */
      from: Int = 0,
      /** ES `search_after` cursor: only hits ranked strictly after this
        * (score, docId) are returned. Composes with `from` (applied
        * after the cursor).
        */
      after: Scored = null,
      /** ES `slop` for `phrase = true` (full sloppy semantics —
        * reordered terms match from slop ≥ 2).
        */
      phraseSlop: Int = 0,
      /** Analyzed field the `query` matches over ("text" = main field) —
        * per-field BM25, same as [[searchField]] (round-5 review "What's
        * missing #2").
        */
      field: String = "text",
      /** ES `multi_match` inside the bool `must`: when non-empty,
        * overrides `field` — the query's terms score over every (field,
        * boost) under that field's stats (OR mode; same semantics as
        * [[multiMatch]], incl. `multiMatchBest`/`tieBreaker`).
        */
      multiMatchFields: Seq[(String, Double)] = Nil,
      multiMatchBest: Boolean = false,
      tieBreaker: Double = 0.0
  ): Array[Scored] = {
    val q = compile(Seq(BoolQuerySpec(query = query, field = field,
      multiMatchFields = multiMatchFields, multiMatchBest = multiMatchBest,
      tieBreaker = tieBreaker, conjunctive = conjunctive, phrase = phrase, filters = filters,
      mustNot = mustNot, anyFilters = anyFilters, numericRangeFilters = numericRangeFilters,
      rangeFilters = rangeFilters, exists = exists, missing = missing,
      mustNotText = mustNotText, should = should, minShouldMatch = minShouldMatch,
      phraseSlop = phraseSlop))).head
    runOne(q.copy(after = after), k, from)
  }

  /** Stored `#field:value` terms with lo ≤ value ≤ hi (inclusive,
    * lexicographic) per requested range. EVERY range expands off one
    * dictionary pass (OR of the per-range predicates) — the warm driver
    * dictionary (zero jobs), else ONE unioned dict scan across segments
    * (the term-sorted parquet makes each prefix a row-group range scan)
    * — so a batch keeps its one-job contract. NOT capped: a range filter
    * must see every matching value or it silently drops docs; an empty
    * expansion makes the clause unsatisfiable.
    */
  private def expandFieldRanges(ranges: Seq[(String, String, String)])
      : Map[(String, String, String), Seq[String]] = {
    val distinct = ranges.distinct
    if (distinct.isEmpty) return Map.empty
    def matches(r: (String, String, String), term: String): Boolean = {
      val prefix = FieldTerms.term(r._1, "")
      term.startsWith(prefix) && {
        val v = term.substring(prefix.length)
        r._2 <= v && v <= r._3
      }
    }
    val terms: Seq[String] =
      if (localDict != null) localDict.keysIterator.filter(t => distinct.exists(matches(_, t))).toSeq
      else {
        val pred = distinct.map { case (f, lo, hi) =>
          val prefix = FieldTerms.term(f, "")
          val valueCol = col("term").substr(lit(prefix.length + 1), lit(Int.MaxValue))
          col("term").startsWith(prefix) && valueCol >= lit(lo) && valueCol <= lit(hi)
        }.reduce(_ || _)
        val union = segDicts.map(_.filter(pred).select(col("term"))).reduce(_ unionByName _)
        (if (segDicts.size > 1) union.distinct() else union).as[String].collect().toSeq
      }
    distinct.map(r => r -> terms.filter(matches(r, _)).sorted).toMap
  }

  // --- term-expansion queries (ES prefix / wildcard / fuzzy) --------------

  /** Dictionary-term predicate of analyzed `field`'s namespace ("text" =
    * the main namespace: fielded keyword ('#field:v') and fielded text
    * ('%field:tok') terms share the dictionary but never match a
    * main-TEXT pattern — ES keeps sub-fields out of analyzed-field term
    * expansion; neither prefix can appear in analyzer output, so the
    * guard is exact) and the BARE-token column an expansion predicate
    * sees.
    */
  private def fieldCols(field: String): (Column, Column) =
    if (field == "text")
      (!col("term").startsWith(FieldTerms.Prefix) && !col("term").startsWith(FieldTerms.TextPrefix),
        col("term"))
    else {
      val pfx = FieldTerms.textTerm(field, "")
      (col("term").startsWith(pfx), col("term").substr(lit(pfx.length + 1), lit(Int.MaxValue)))
    }

  /** Bare token of `term` when it lives in `field`'s namespace. */
  private def bareOf(field: String, term: String): Option[String] =
    if (field == "text") { if (FieldTerms.isNamespaced(term)) None else Some(term) }
    else {
      val pfx = FieldTerms.textTerm(field, "")
      if (term.startsWith(pfx)) Some(term.substring(pfx.length)) else None
    }

  /** (term, LWW df) of every visible dictionary term of analyzed
    * `field`: per-segment rows summed (a single segment skips the merge),
    * minus the tombstoned docs' corrections — a term living only in
    * superseded docs vanishes. `lenRange` pushes a bare-token length
    * prune to each dict's stored `len` column (format v2 — a plain int
    * range the parquet reader evaluates before any levenshtein; legacy
    * dicts skip it, the caller's predicate already implies it). Index
    * metadata only — never a corpus scan.
    */
  private def termDfFrame(field: String, lenRange: Option[(Int, Int)] = None): DataFrame = {
    val (inField, _) = fieldCols(field)
    val perSeg = segDicts.map { d =>
      val base = lenRange match {
        case Some((lo, hi)) if d.columns.contains("len") =>
          d.filter(col("len").between(lit(lo), lit(hi)))
        case _ => d
      }
      base.filter(inField).select(col("term"), col("df"))
    }
    val merged =
      if (perSeg.size == 1) perSeg.head
      else perSeg.reduce(_ unionByName _).groupBy(col("term")).agg(sum(col("df")).as("df"))
    removedDfDF match {
      case Some(rm) => merged.join(rm, Seq("term"), "left")
        .select(col("term"), (col("df") - coalesce(col("removed"), lit(0L))).as("df"))
        .filter(col("df") > lit(0L))
      case None => merged
    }
  }

  /** Warm twin of [[termDfFrame]] filtered to the bare tokens `keep`
    * admits, from the driver dictionary with zero jobs — None when the
    * dictionary stays distributed or heavy churn keeps the df
    * corrections distributed (callers then scan).
    */
  private def localTermDf(field: String)(keep: String => Boolean): Option[Seq[(String, Long)]] =
    if (localDict == null || (hasTombstones && removedDfSmall.isEmpty)) None
    else {
      val rm = removedDfSmall.getOrElse(Map.empty)
      Some(localDict.iterator
        .filter { case (t, _) => bareOf(field, t).exists(keep) }
        .map { case (t, xs) => (t, xs.iterator.map(_._2.df).sum - rm.getOrElse(t, 0L)) }
        .filter(_._2 > 0L).toSeq)
    }

  /** Matching visible dictionary terms, with their LWW df, for a
    * predicate over the BARE tokens of ONE analyzed field ("text" = the
    * main namespace; any other field matches within its `%field:`
    * namespace — ES expands prefix/wildcard/fuzzy against the NAMED
    * field's terms, round-5 review "What's missing #3"): ascending term
    * order, capped at maxExpansions over the global distinct set (the ES
    * rewrite rule — deterministic, so the oracle twin reproduces the same
    * set whenever the cap is not hit). Warm: the driver dictionary. Cold:
    * ONE unioned dict scan with the term-asc cap IN the plan
    * (TakeOrderedAndProject: per-partition heaps of ≤ maxExpansions — a
    * low-selectivity regexp / infix wildcard on a 10^9-term dictionary
    * never collects the whole match, round-7 review "What's wrong #1").
    * `lenRange` = the bare-token length bounds the predicate implies
    * (edit distance: |len − |w|| ≤ maxDist), pushed to the cold scan.
    */
  private def expand(
      scalaPred: String => Boolean,
      sqlPredOf: Column => Column,
      maxExpansions: Int,
      field: String = "text",
      lenRange: Option[(Int, Int)] = None
  ): Seq[(String, Long)] =
    localTermDf(field)(scalaPred) match {
      case Some(xs) => xs.sortBy(_._1).take(maxExpansions)
      case None =>
        termDfFrame(field, lenRange).filter(sqlPredOf(fieldCols(field)._2))
          .orderBy(col("term")).limit(maxExpansions)
          .as[(String, Long)].collect().toSeq
    }

  /** Per-token capped edit-distance expansion — the multi-token rewrite
    * ([[searchMatchFuzzy]], [[phraseSuggest]]) with the cap IN the plan:
    * ONE len-pruned dictionary scan over all segments; each surviving
    * term explodes to the query tokens within `maxDist` of its bare
    * token; a rank-≤-cap window per token (Catalyst's
    * InferWindowGroupLimit turns the `row_number ≤ cap` filter into
    * PRE-SHUFFLE per-partition group limits), so the driver collects ≤
    * |tokens| × cap rows at ANY vocabulary size (round-7 review "What's
    * wrong #1"). Ranking per token: `byDistDf = false` → term asc (the
    * match-fuzzy per-token rewrite); `true` → (distance asc, LWW df desc,
    * term asc) — the term-suggester rule the phrase suggester's slots
    * use. Warm: the driver dictionary, length-pre-filtered before any
    * levenshtein. Returns token → ranked namespaced terms.
    */
  private def expandPerToken(toks: Seq[String], maxDist: Int, perTokenCap: Int,
      field: String, byDistDf: Boolean): Map[String, Seq[String]] = {
    if (toks.isEmpty) return Map.empty
    val lo = math.max(1, toks.map(_.length).min - maxDist)
    val hi = toks.map(_.length).max + maxDist
    def rank(w: String, cands: Iterable[(String, Long)]): Seq[String] = {
      val in = cands.iterator
        .map { case (t, df) => (t, df, Expansion.levenshtein(w, bareOf(field, t).get)) }
        .filter(_._3 <= maxDist).toSeq
      val ordered =
        if (byDistDf) in.sortBy { case (t, df, d) => (d, -df, t) }
        else in.sortBy(_._1)
      ordered.take(perTokenCap).map(_._1)
    }
    val byTok: String => Iterable[(String, Long)] =
      localTermDf(field)(b => b.length >= lo && b.length <= hi) match {
        case Some(pool) => _ => pool
        case None =>
          val bare = fieldCols(field)._2
          val tokArr = array(toks.distinct.sorted.map(lit): _*)
          val ordCols =
            if (byDistDf)
              Seq(org.apache.spark.sql.functions.levenshtein(col("__tok"), bare).asc,
                col("df").desc, col("term").asc)
            else Seq(col("term").asc)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("__tok")).orderBy(ordCols: _*)
          val rows = termDfFrame(field, Some((lo, hi)))
            .select(col("term"), col("df"),
              explode(org.apache.spark.sql.functions.filter(tokArr,
                t => org.apache.spark.sql.functions.levenshtein(t, bare) <= lit(maxDist)))
                .as("__tok"))
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= lit(perTokenCap))
            .select(col("__tok"), col("term"), col("df"))
            .as[(String, String, Long)].collect()
          // re-rank the ≤ cap survivors on the driver (collect order is
          // partition-arbitrary; the window already selected the SET)
          val grouped = rows.toSeq.groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3))).toMap
          t => grouped.getOrElse(t, Nil)
      }
    toks.distinct.map(w => w -> rank(w, byTok(w))).toMap
  }

  /** Prefix query (ES `prefix`, rewrite = scoring boolean): BM25 OR over
    * the ≤ maxExpansions index terms starting with the analyzed prefix;
    * `field` expands (and scores) within that analyzed field.
    */
  def searchPrefix(prefix: String, k: Int, maxExpansions: Int = 50,
      field: String = "text"): Array[Scored] = {
    val toks = Analyzer.tokenize(prefix)
    if (toks.isEmpty) return Array.empty
    val p = toks(0)
    runOne(ResolvedQuery(expand(_.startsWith(p), _.startsWith(p), maxExpansions, field)
      .map(_._1)), k)
  }

  /** Wildcard query (ES `wildcard`): `*` = any run, `?` = one char,
    * matched against whole analyzed terms; BM25 OR over the expansion.
    */
  def searchWildcard(pattern: String, k: Int, maxExpansions: Int = 50,
      field: String = "text"): Array[Scored] = {
    val pat = pattern.toLowerCase(java.util.Locale.ROOT)
    val rx = Expansion.wildcardRegex(pat)
    val like = Expansion.wildcardLike(pat)
    runOne(ResolvedQuery(expand(t => rx.findFirstIn(t).isDefined, _.like(like), maxExpansions,
      field).map(_._1)), k)
  }

  /** Fuzzy query (ES `fuzziness`): BM25 OR over index terms within edit
    * distance maxDist of the analyzed term. Both scan paths prune by
    * bare-token length FIRST (levenshtein ≥ |len difference|, so the
    * bound is exact): the warm driver map with an int compare, the cold
    * dict scan with the stored `len` column's pushed range filter.
    * `prefixLength` > 0 (ES `prefix_length`) additionally requires
    * candidates to share the term's first N chars — and turns the cold
    * scan into a `startsWith` the TERM-SORTED dict parquet row-group
    * prunes (the cheap-fuzzy pattern ES recommends at scale).
    */
  def searchFuzzy(term: String, k: Int, maxDist: Int = 1,
      maxExpansions: Int = 50, field: String = "text",
      prefixLength: Int = 0): Array[Scored] = {
    val toks = Analyzer.tokenize(term)
    if (toks.isEmpty) return Array.empty
    val t0 = toks(0)
    // Lucene rule: prefix_length ≥ len(term) degrades FuzzyQuery to an
    // EXACT term query — without this, terms EXTENDING the input within
    // maxDist would still match (round-7 review)
    val exp =
      if (prefixLength >= t0.length)
        expand(_ == t0, _ === lit(t0), maxExpansions, field,
          lenRange = Some((t0.length, t0.length)))
      else {
        val pfx = t0.take(prefixLength)
        expand(t => t.startsWith(pfx) && math.abs(t.length - t0.length) <= maxDist &&
            Expansion.levenshtein(t0, t) <= maxDist,
          c => c.startsWith(pfx) &&
            org.apache.spark.sql.functions.levenshtein(lit(t0), c) <= lit(maxDist),
          maxExpansions, field,
          lenRange = Some((math.max(1, t0.length - maxDist), t0.length + maxDist)))
      }
    runOne(ResolvedQuery(exp.map(_._1)), k)
  }

  /** ES `regexp` query: the pattern anchors to the WHOLE analyzed term
    * (Lucene regexp semantics — `sp.rk` matches `spark`, never a term
    * merely containing it); BM25 OR over the ≤ maxExpansions matching
    * dictionary terms (term-asc — the deterministic rewrite). Cold path
    * is one dict scan (`rlike` with the anchored pattern); warm path
    * matches the driver map.
    */
  def searchRegexp(pattern: String, k: Int, maxExpansions: Int = 50,
      field: String = "text"): Array[Scored] = {
    val p = java.util.regex.Pattern.compile(pattern)
    val anchored = "^(?:" + pattern + ")$"
    runOne(ResolvedQuery(expand(t => p.matcher(t).matches(), _.rlike(anchored), maxExpansions,
      field).map(_._1)), k)
  }

  /** ES `match` with `fuzziness` (round-6 review "What's missing #4"):
    * EVERY analyzed query token expands to the dictionary terms within
    * `maxDist` edits of it (per-token term-asc cap — the ES per-term
    * rewrite; dist 0 keeps the token itself when indexed), and the union
    * scores as ONE BM25 OR. Documented deviation from ES: each expansion
    * scores with its OWN df/idf (ES's blended rewrite reuses the original
    * term's df across its expansions) — the integer-exact per-token
    * selection keeps the SQL twin bit-reproducible. Cold path is ONE
    * dict scan for ALL tokens ([[expandPerToken]]).
    */
  def searchMatchFuzzy(query: String, k: Int, maxDist: Int = 1,
      maxExpansionsPerTerm: Int = 50, field: String = "text"): Array[Scored] = {
    val toks = Analyzer.analyzeQuery(query).toSeq
    runOne(ResolvedQuery(expandPerToken(toks, maxDist, maxExpansionsPerTerm, field,
      byDistDf = false).valuesIterator.flatten.toSeq), k)
  }

  /** ES `dis_max` as a general combinator (round-6 review "What's
    * missing #4"): score = best-scoring sub-query's BM25 sum +
    * `tieBreaker` · Σ(the other matching sub-queries' sums) — the
    * [[Wand.BestFields]] fold generalized from multi_match fields to
    * arbitrary match sub-queries (tie_breaker = 1 degenerates to the
    * plain bool-OR sum, pinned by test). Sub-queries MAY share analyzed
    * terms (round-7 review "What's missing #5" — ES scores each
    * sub-query independently): a shared term gets one scored iterator
    * PER containing group, each attributed to its group's sum; sums tie
    * to the lowest group index. Docs matching ANY sub-query rank.
    */
  def searchDisMax(queries: Seq[String], k: Int,
      tieBreaker: Double = 0.0): Array[Scored] = {
    val groups = queries.map(q => Analyzer.analyzeQuery(q).toSeq.distinct.sorted)
    require(groups.exists(_.nonEmpty), "dis_max needs >= 1 non-empty sub-query")
    val groupsOf: Map[String, Seq[Int]] = groups.zipWithIndex
      .flatMap { case (ts, i) => ts.map(_ -> i) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    runOne(ResolvedQuery(groups.flatten,
      bestFields = new Wand.BestFields(Map.empty, groups.size, tieBreaker, groupsOf)), k)
  }

  /** ES term suggester ("did you mean"): visible dictionary terms within
    * `maxDist` edits of the analyzed input word, ranked (distance asc,
    * LWW df desc, term asc) — ES's default sort, deterministic. The
    * candidate set is the ≤ `maxCandidates` term-asc terms matching the
    * distance predicate (same deterministic cap rule as every
    * expansion); the input word itself is excluded (ES
    * suggest_mode=missing shape — you suggest for misspellings).
    * Returns (suggestion, dist, df) rows, top `k`.
    */
  def suggestTerms(word: String, k: Int, maxDist: Int = 1,
      maxCandidates: Int = 1000): DataFrame = {
    val toks = Analyzer.tokenize(word)
    if (toks.isEmpty) return Seq.empty[(String, Int, Long)].toDF("suggestion", "dist", "df")
    val w = toks(0)
    val cands = expand(
      t => t != w && math.abs(t.length - w.length) <= maxDist &&
        Expansion.levenshtein(w, t) <= maxDist,
      c => c =!= lit(w) &&
        org.apache.spark.sql.functions.levenshtein(lit(w), c) <= lit(maxDist),
      maxCandidates,
      lenRange = Some((math.max(1, w.length - maxDist), w.length + maxDist)))
    cands
      .map { case (t, df) => (t, Expansion.levenshtein(w, t), df) }
      .sortBy { case (t, d, df) => (d, -df, t) }
      .take(k)
      .toDF("suggestion", "dist", "df")
  }

  /** ES completion-suggester analog (search-as-you-type): the top `k`
    * dictionary terms extending `prefix`, ranked by POPULARITY — (LWW df
    * desc, term asc); df is the suggestion's weight, the natural
    * corpus-derived analog of ES's indexed completion weight. The cap is
    * IN the plan — `orderBy(df desc, term asc).limit(k)` on the
    * prefix-pruned dict scan (TakeOrderedAndProject: the driver sees ≤ k
    * rows at any vocabulary size). Warm path filters the driver map.
    * Returns (suggestion, weight) rows.
    */
  def suggestCompletion(prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty, "completion prefix must be non-empty")
    require(k > 0, "completion size must be positive")
    val p = Analyzer.analyzeQuery(prefix).headOption.getOrElse("")
    if (p.isEmpty) return Seq.empty[(String, Long)].toDF("suggestion", "weight")
    localTermDf("text")(_.startsWith(p)) match {
      case Some(xs) =>
        xs.sortBy { case (t, df) => (-df, t) }.take(k).toDF("suggestion", "weight")
      case None =>
        termDfFrame("text").filter(col("term").startsWith(p))
          .orderBy(col("df").desc, col("term").asc).limit(k)
          .select(col("term").as("suggestion"), col("df").as("weight"))
    }
  }

  /** ES phrase suggester ("did you mean" over whole queries, round-6
    * review "What's missing #5"): every analyzed input token expands to
    * its ≤ `maxPerSlot` best correction candidates (dist ≤ maxDist
    * INCLUDING the token itself when indexed, ranked dist asc / df desc /
    * term asc — the term-suggester rule), candidate phrases are the slot
    * product, and each phrase is scored by the SUM of its adjacent
    * bigram doc-counts — derived from the POSITIONAL POSTINGS already
    * stored (one pruned block scan + one self-join on (docId, pos+1);
    * never a corpus re-tokenize), tombstoned docs excluded.
    * Integer-exact and deterministic, so the DuckDB twin reproduces
    * scores bit-for-bit (ES ranks by a smoothed bigram LM — deviation
    * documented). Returns (suggestion, score) rows, top `k` by (score
    * desc, phrase asc).
    */
  def phraseSuggest(phrase: String, k: Int, maxDist: Int = 1,
      maxPerSlot: Int = 3): DataFrame = {
    val slots = Analyzer.tokenize(phrase).toSeq
    val empty = Seq.empty[(String, Long)].toDF("suggestion", "score")
    if (slots.length < 2) return empty
    val candMap = expandPerToken(slots, maxDist, maxPerSlot, "text", byDistDf = true)
    val slotCands: Seq[Seq[String]] = slots.map(w => candMap.getOrElse(w, Nil))
    if (slotCands.exists(_.isEmpty)) return empty
    val bigram = bigramDocCounts(Searcher.slotPairs(slotCands))
    Searcher.phraseSuggestFrom(spark, slotCands, bigram, k)
  }

  /** Corpus doc-counts of adjacent bigrams (a at position p, b at p+1)
    * for the requested (a, b) pairs, from the positional postings: ONE
    * pruned block scan over the pairs' terms (segment-local termIds
    * resolved inside the decode closure from the tiny driver map — a
    * broadcast join here was one more job + exchange per call, round-9),
    * decoded to (term, docId, pos), tombstoned docs anti-joined out,
    * then the shared (docId, pos+1) equi-self-join. Cost is bounded by
    * the candidate terms' posting sizes (exactly what ES's phrase
    * suggester reads for its collate).
    */
  private def bigramDocCounts(pairs: Seq[(String, String)]): Map[(String, String), Long] = {
    if (pairs.isEmpty) return Map.empty
    val terms = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val (dfGlobal, perSeg) = lookup(terms)
    val pairsFound = pairs.distinct.filter(p =>
      dfGlobal.contains(p._1) && dfGlobal.contains(p._2))
    if (pairsFound.isEmpty) return Map.empty
    val pruned = prunedBlocks(perSeg, _ => true).getOrElse(return Map.empty)
    val segIdToTerm: Map[(Int, Long), String] =
      perSeg.map { case ((i, t), ts) => ((i, ts.termId), t) }
    val exploded = pruned
      .select(col("seg").as("_1"), struct(Searcher.BlockCols.map(col): _*).as("_2"))
      .as[(Int, PostingBlock)]
      .flatMap { case (seg, b) =>
        val ids = Codec.deltaDecode(b.docs, b.count, b.firstDocId)
        val poss = Codec.decodePositions(b, Codec.decodeVarInts(b.tfs, b.count))
        // loud like the phrase executor — a silent empty would return
        // all-zero bigram scores (wrong ranking), not an obvious error
        if (poss == null) throw new IllegalStateException(
          "index stores no positions — phrase_suggest needs storePositions=true")
        val term = segIdToTerm((seg, b.termId))
        for {
          i <- ids.indices.iterator
          p <- poss(i).iterator
        } yield (term, ids(i), p)
      }.toDF("term", "docId", "pos")
    Searcher.bigramCountsOf(liveOnly(exploded), pairsFound)
  }

  /** `frame` without tombstoned docIds (a no-op without tombstones). */
  private def liveOnly(frame: DataFrame): DataFrame =
    if (hasTombstones) frame.join(tombDF, Seq("docId"), "left_anti") else frame

  /** ES `more_like_this` (by document): the source doc's terms are
    * ranked by the deterministic rare-first rule (tf desc, df asc, term
    * asc — an integer-exact tf·idf proxy, so the oracle twin reproduces
    * the selection bit-for-bit), the top `maxQueryTerms` become an OR
    * query, and the source doc is excluded from the hits (ES `include =
    * false` default). The source doc comes from the LWW-visible store.
    */
  def moreLikeThis(docId: Long, k: Int, maxQueryTerms: Int = 25,
      minTermFreq: Int = 1): Array[Scored] = {
    val row = docs.filter(col("docId") === lit(docId))
      .select(col("text")).limit(1).collect()
    if (row.isEmpty) return Array.empty
    val tf = Analyzer.tokenize(row(0).getString(0))
      .groupBy(identity).map { case (t, xs) => t -> xs.length }
      .filter(_._2 >= minTermFreq)
    val (dfGlobal, _) = lookup(tf.keys.toSeq.sorted)
    val selected = tf.toSeq
      .flatMap { case (t, f) => dfGlobal.get(t).map(df => (t, f, df)) }
      .sortBy { case (t, f, df) => (-f, df, t) }
      .take(maxQueryTerms).map(_._1)
    runOne(ResolvedQuery(selected), k + 1).filter(_.docId != docId).take(k)
  }

  /** Top-k resolved back to turn metadata + text (SURVEY.md J4): the k
    * hits are broadcast against the doc store.
    */
  def searchResolved(query: String, k: Int): DataFrame = resolve(search(query, k), "text")

  /** Hits (already tombstone-excluded and (score desc, docId asc)-sorted,
    * so ranked here, not via an unpartitioned window) joined to the doc
    * store with `field` as a string column. k-bounded fetch: the literal
    * In(docId, ...) pushes to the parquet scans (row-group min/max
    * pruning — the ES get-by-id shape, round-7 review #8) instead of
    * streaming the whole doc store through the broadcast join.
    */
  private def resolve(hits: Array[Scored], field: String): DataFrame = {
    val hitsDF = hits.toSeq.zipWithIndex
      .map { case (s, i) => (s.docId, s.score, i + 1) }.toDF("docId", "score", "rank")
    rawDocs.filter(col("docId").isin(hits.map(_.docId).toSeq: _*))
      .join(broadcast(hitsDF), Seq("docId"))
      .select(col("rank"), col("docId"), col("score"), col("conv_id"), col("turn_idx"),
        col("role"), col(field).cast("string").as(field))
      .orderBy(col("rank"))
  }

  /** Top-k resolved hits with ES-style highlighted fragments
    * ([[Highlight]]): ±`window` analyzed tokens around the first query
    * term, matches wrapped in `<em></em>`. Fragment building runs on the
    * k RESOLVED rows only (the lone UDF in the query path — k-row
    * post-processing of already-collected hits, not a corpus operator).
    * `field` ≠ "text" highlights a fielded match ([[searchField]]) in the
    * FIELD's own stored column (round-5 review "What's missing #3").
    */
  def searchHighlighted(query: String, k: Int, window: Int = 5,
      field: String = "text",
      /** ES `number_of_fragments`: 1 (default) keeps the single
        * first-match `fragment` column; > 1 returns a `fragments` array
        * column instead — the best N non-overlapping windows
        * ([[Highlight.fragments]]).
        */
      numberOfFragments: Int = 1): DataFrame = {
    val terms = Analyzer.analyzeQuery(query).toSet
    val nf = numberOfFragments
    val frag =
      if (nf <= 1) udf((text: String) =>
        Highlight.fragment(if (text == null) "" else text, terms, window))
      else udf((text: String) =>
        Highlight.fragments(if (text == null) "" else text, terms, window, nf))
    val fragCol = if (nf <= 1) "fragment" else "fragments"
    val hits = if (field == "text") search(query, k) else searchField(field, query, k)
    resolve(hits, field).withColumn(fragCol, frag(col(field)))
  }

  // --- match-set operators (facets / aggs / sort / count) -----------------

  /** Decoded docIds of `terms` across all segments (union of pruned
    * docIds-only block scans — three columns, parquet-pruned past the
    * tf/dl/pos streams; these operators touch the FULL match set, so
    * decode waste scales with it). No distinct: the right side of a
    * left_semi/left_anti join needs no dedup (set-membership semantics),
    * so clause/exclude sides skip the distinct's Exchange+HashAggregate
    * entirely (guide §2.4). None when no segment holds any of the terms.
    */
  private def decodeDocIdsRaw(perSeg: Map[(Int, String), TermStats],
      terms: Set[String]): Option[DataFrame] =
    prunedBlocks(perSeg, terms).map(_
      .select(col("docs"), col("count"), col("firstDocId"))
      .as[(Array[Byte], Int, Long)]
      .flatMap { case (ds, n0, first) => Codec.deltaDecode(ds, n0, first) }
      .toDF("docId"))

  /** A match set is the OR of the spec's `query` terms on the main field
    * plus its clauses: the scoring-only options would be silently ignored,
    * so they fail loudly instead.
    */
  private def requireMatchSet(spec: BoolQuerySpec): Unit =
    require(!spec.conjunctive && !spec.phrase && spec.should.isEmpty &&
      spec.minShouldMatch == 0 && spec.field == "text" && spec.multiMatchFields.isEmpty,
      "a match set takes OR `query` text on the main field plus clauses; conjunctive, " +
        s"phrase, should, minShouldMatch, field and multiMatchFields are not supported: $spec")

  /** Membership of the FULL bool query (ES aggregations/counts run over
    * the filtered query, not just the scored terms): the OR query value
    * [[compile]] builds from `spec`, resolved by
    * [[ResolvedQuery.visibleIn]] — distinct docs matching ≥1 scored term,
    * restricted by every filter clause (semi-join per clause — each
    * clause's docIds come from its own pruned block scan) and must_not
    * (keyword values, missing-field markers, `mustNotText` tokens) +
    * tombstones (anti-joins). All joins are docId-keyed — the match set
    * never touches the driver. None when the query can have no hits.
    */
  private def matchSet(spec: BoolQuerySpec): Option[DataFrame] = {
    requireMatchSet(spec)
    val q0 = compile(Seq(spec)).head
    val (dfGlobal, perSeg) = lookup(q0.terms.distinct.sorted)
    val q = q0.visibleIn(dfGlobal.contains).getOrElse(return None)
    var m = decodeDocIdsRaw(perSeg, q.scored.toSet).getOrElse(return None).distinct()
    for (cl <- q.clauses)
      m = m.join(decodeDocIdsRaw(perSeg, cl.toSet).getOrElse(return None),
        Seq("docId"), "left_semi")
    if (q.excludes.nonEmpty)
      decodeDocIdsRaw(perSeg, q.excludes.toSet).foreach(e =>
        m = m.join(e, Seq("docId"), "left_anti"))
    // ONE tombstone snapshot per searcher: the WAND paths' exclusion
    // blocks and the agg paths' anti-join see the same store state
    Some(liveOnly(m))
  }

  /** The match set, or an empty docId frame when nothing matches — so
    * every aggregation below shares one plan shape with a correct
    * empty-result schema.
    */
  private def matchingOrEmpty(spec: BoolQuerySpec): DataFrame =
    matchSet(spec).getOrElse(Seq.empty[Long].toDF("docId"))

  /** `cols` of the docs in the match set of `spec`: the column-pruned doc
    * stores docId-joined against the membership frame — the input every
    * value aggregation below consumes.
    */
  private def matched(spec: BoolQuerySpec, cols: Column*): DataFrame =
    rawDocs.select(col("docId") +: cols: _*).join(matchingOrEmpty(spec), Seq("docId"))

  /** Decoded (docId, term, tf, dl, df) posting rows of the query's terms
    * across segments under the LWW-exact merged df — the shared
    * distributed input of [[scoredMatches]] and [[explain]]:
    * term-pruned block scan → decode → broadcast join of the tiny (seg,
    * termId) → (term, df) side. NOT tombstone-filtered; every consumer
    * must exclude removed docs itself.
    */
  private def postingRows(terms: Seq[String]): Option[DataFrame] = {
    val (dfGlobal, perSeg) = lookup(terms.distinct.sorted)
    if (ResolvedQuery(terms).visibleIn(dfGlobal.contains).isEmpty) return None
    val idFrame = perSeg.toSeq.flatMap { case ((i, t), ts) =>
      dfGlobal.get(t).map(df => (i, ts.termId, t, df))
    }.toDF("seg", "termId", "term", "df")
    val pruned = prunedBlocks(perSeg, dfGlobal.contains).getOrElse(return None)
    val posts = pruned
      .select(col("seg"), col("termId"), col("docs"), col("tfs"), col("dls"),
        col("count"), col("firstDocId"))
      .as[(Int, Long, Array[Byte], Array[Byte], Array[Byte], Int, Long)]
      .flatMap { case (seg, tid, ds, tfs, dls, cnt, first) =>
        val ids = Codec.deltaDecode(ds, cnt, first)
        val tfA = Codec.decodeVarInts(tfs, cnt)
        val dlA = Codec.decodeVarInts(dls, cnt)
        Iterator.range(0, cnt).map(i => (seg, tid, ids(i), tfA(i), dlA(i)))
      }.toDF("seg", "termId", "docId", "tf", "dl")
    Some(posts.join(broadcast(idFrame), Seq("seg", "termId")))
  }

  /** Exact BM25 score of EVERY visible matching doc as a distributed
    * (docId, score) frame — the scored match set field collapsing needs
    * (top-k alone cannot collapse: the global top k docs may all share
    * one key, ES runs a collapsing per-shard collector for the same
    * reason). Per-doc fold of contributions in ASCENDING TERM ORDER
    * (sort_array + aggregate) — the engine-wide determinism rule,
    * bit-identical to the WAND sum (Bm25.scoreCol ≡ Bm25.score by
    * construction).
    */
  private def scoredMatches(terms: Seq[String]): Option[DataFrame] = {
    val nG = n
    val avgdlG = avgdl
    postingRows(terms).map { rows =>
      liveOnly(rows.select(col("docId"), struct(col("term"),
          Bm25.scoreCol(col("tf"), col("df"), col("dl"), nG, avgdlG).as("s")).as("c"))
        .groupBy(col("docId"))
        .agg(aggregate(sort_array(collect_list(col("c"))), lit(0.0),
          (acc, x) => acc + x.getField("s")).as("score")))
    }
  }

  /** ES `_explain` (GET /index/_explain/{id}): the per-term BM25 score
    * breakdown of one (query, document) pair — (term, tf, df, dl, idf,
    * weight) rows, weight = the term's contribution under EXACTLY the
    * search formula/operation order ([[Bm25.scoreCol]]), so sum(weight)
    * over the rows is bit-identical to the hit's search score (pinned in
    * tests). Terms of the query absent from the doc contribute no row (ES
    * omits non-matching sub-explanations); a tombstoned docId explains to
    * zero rows (the doc no longer exists). Plan: the term-pruned decode
    * of [[postingRows]] filtered to the one docId — never a corpus scan.
    */
  def explain(query: String, docId: Long): DataFrame = {
    val terms = Analyzer.analyzeQuery(query).toSeq
    val nG = n
    val avgdlG = avgdl
    postingRows(terms) match {
      case None =>
        Seq.empty[(String, Int, Long, Int, Double, Double)]
          .toDF("term", "tf", "df", "dl", "idf", "weight")
      case Some(rows) =>
        liveOnly(rows.filter(col("docId") === lit(docId)))
          .select(col("term"), col("tf"), col("df"), col("dl"),
            Bm25.idfCol(col("df"), nG).as("idf"),
            Bm25.scoreCol(col("tf"), col("df"), col("dl"), nG, avgdlG).as("weight"))
          .orderBy(col("term"))
    }
  }

  /** ES scroll, the efficient `sort: _doc` bulk-export mode: the FULL
    * scored match set as a still-distributed (docId, score) frame — no
    * top-k, no global sort, nothing on the driver. ES pages this through
    * a stateful cursor because its client is a single process; the
    * Spark-native equivalent of "scroll every hit" IS the DataFrame —
    * callers write it out or join it onward, and any page-sized
    * consumption is a `searchAfter` (Q16/Q25). Scores are the exact
    * per-doc BM25 sums ([[scoredMatches]]); empty frame when no query
    * term is indexed.
    */
  def scrollAll(query: String): DataFrame =
    scoredMatches(Analyzer.analyzeQuery(query).toSeq)
      .getOrElse(Seq.empty[(Long, Double)].toDF("docId", "score"))

  /** ES `_termvectors` (GET /index/_termvectors/{id}, a 2.4-era API):
    * the document's own term statistics — one row per token occurrence,
    * (term, pos, start_offset, end_offset, tf, df), term asc / pos asc.
    * tf/positions/offsets are generated ON THE FLY from the stored text
    * (exactly ES's behavior when term vectors are not stored in the
    * mapping); df is the merged LWW dictionary df. Plan: a point read of
    * the doc-store row (EqualTo(docId) pushed to the docId-range-
    * partitioned stores, tombstone exclusion folded into the same job) +
    * one dict lookup bounded by the doc's vocabulary — never a corpus
    * pass. Unknown or tombstoned docId → 0 rows (ES found=false).
    */
  def termVectors(docId: Long): DataFrame = {
    val empty = Seq.empty[(String, Int, Int, Int, Int, Long)]
      .toDF("term", "pos", "start_offset", "end_offset", "tf", "df")
    val row = liveOnly(rawDocs.filter(col("docId") === lit(docId)).select(col("docId"), col("text")))
      .select("text").collect()
    if (row.isEmpty || row.head.isNullAt(0)) return empty
    val toks = Analyzer.tokenizeWithOffsets(row.head.getString(0))
    if (toks.isEmpty) return empty
    val tf = toks.groupBy(_._1).map { case (t, occ) => t -> occ.length }
    val (dfGlobal, _) = lookup(tf.keys.toSeq.sorted)
    toks.zipWithIndex
      .map { case ((t, s, e), i) =>
        (t, i, s, e, tf(t), dfGlobal.getOrElse(t, 0L))
      }
      .sortBy(r => (r._1, r._2)).toSeq
      .toDF("term", "pos", "start_offset", "end_offset", "tf", "df")
  }
  /** ES `constant_score`: every doc matching the bool membership
    * (scored terms OR'd + all filter-context clauses) scores exactly
    * `boost` — no BM25, no WAND; membership is the same decoded match
    * set every aggregation uses, ranked (docId asc — deterministic; ES
    * leaves constant-score ties arbitrary) via TakeOrderedAndProject.
    */
  def searchConstantScore(query: BoolQuerySpec, k: Int, boost: Double = 1.0): DataFrame =
    matchingOrEmpty(query)
      .orderBy(col("docId")).limit(k)
      .withColumn("score", lit(boost))

  /** ES `boosting` query: hits are the docs matching the POSITIVE
    * query (plain disjunctive BM25); a hit that ALSO matches the
    * negative query keeps its rank eligibility but its score is
    * multiplied by `negativeBoost` (< 1 demotes — ES requires
    * 0 ≤ negative_boost; matching negative alone never matches). Plan:
    * the exact scored match set of the positive terms
    * ([[scoredMatches]] — the collapse/aggs shape; WAND's bounds
    * don't survive per-doc demotion, so ES-exact top-k needs the full
    * match set) left-joined against the negative MEMBERSHIP set
    * (docIds only — no scoring work), one conditional multiply, then
    * TakeOrderedAndProject top-k. Returns (doc_id, score), score desc
    * / doc_id asc.
    */
  def boosting(positive: String, negative: String, k: Int,
      negativeBoost: Double = 0.5): DataFrame = {
    require(k > 0, "boosting size must be positive")
    require(negativeBoost >= 0, "negative_boost must be >= 0 (ES contract)")
    scoredMatches(Analyzer.analyzeQuery(positive).toSeq) match {
      case None =>
        Seq.empty[(Long, Double)].toDF("doc_id", "score")
      case Some(pos) =>
        val neg = matchingOrEmpty(negative)
          .select(col("docId"), lit(true).as("__neg"))
        pos.join(neg, Seq("docId"), "left")
          .select(col("docId").as("doc_id"),
            when(col("__neg").isNotNull, col("score") * lit(negativeBoost))
              .otherwise(col("score")).as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(k)
    }
  }

  /** ES `function_score` `field_value_factor` applied as a RESCORE
    * window (the `rescore` pattern): the top `window` hits by plain
    * BM25 re-rank by score' = bm25 · (factor · fieldValue), top `k`.
    * ES itself applies function scores through bounded rescoring at
    * scale — WAND's score upper bounds do not survive arbitrary
    * per-doc multipliers, so the exact-top-k contract holds for the
    * WINDOW (any doc outside the BM25 top-`window` cannot enter, ES
    * rescore semantics). One broadcast join of `window` rows against
    * the column-pruned doc store; `modifier = "none"` (the linear ES
    * modifier) keeps the arithmetic one multiply — bit-reproducible in
    * the SQL twin.
    */
  def rescoreByFieldFactor(query: String, k: Int, window: Int,
      field: String, factor: Double,
      /** ES `field_value_factor.missing`: substituted for docs whose
        * field is NULL. None = fail loudly on the first null (ES
        * errors without `missing`) — a silent NULL score would sort
        * last yet still surface when < k non-null hits exist
        * (round-7 ADVICE).
        */
      missing: Option[Double] = None): DataFrame = {
    require(window >= k, "rescore window must be >= k")
    val top = runOne(ResolvedQuery(Analyzer.analyzeQuery(query).toSeq), window)
    val topDF = top.toSeq.map(h => (h.docId, h.score)).toDF("docId", "bm25")
    // window-bounded fetch: push In(docId, ...) to the doc-store scan
    // (row-group pruning) — round-7 review #8
    rawDocs.filter(col("docId").isin(top.map(_.docId).toSeq: _*))
      .select(col("docId"), Searcher.fvfValue(col(field), field, missing))
      .join(broadcast(topDF), Seq("docId"))
      .select(col("docId"),
        (col("bm25") * (lit(factor) * col("__fv"))).as("score"))
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** ES `function_score` decay (gauss/exp/linear on a numeric or date
    * field — round-7 review "What's missing #2": recency boosting on
    * the reference's `created`/`lastChanged` date mapping, here `ts`)
    * applied through the same bounded RESCORE window as
    * [[rescoreByFieldFactor]]: the top `window` hits by exact BM25
    * re-rank by score' = bm25 · decay(fieldValue), top `k` — ES rescore
    * semantics (a doc outside the BM25 top-window cannot enter; WAND
    * bounds don't survive arbitrary per-doc multipliers, so ES itself
    * bounds function scores this way at scale). Timestamp fields decay
    * on their epoch-millis; `origin`/`scale`/`offset` are in the
    * field's units (millis for dates). One broadcast join of `window`
    * rows against the column-pruned doc store.
    */
  def rescoreByDecay(query: String, k: Int, window: Int, field: String,
      shape: String, origin: Double, scale: Double,
      offset: Double = 0.0, decay: Double = 0.5,
      missing: Option[Double] = None): DataFrame = {
    require(window >= k, "rescore window must be >= k")
    val top = runOne(ResolvedQuery(Analyzer.analyzeQuery(query).toSeq), window)
    val topDF = top.toSeq.map(h => (h.docId, h.score)).toDF("docId", "bm25")
    val vCol = rawDocs.schema(field).dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        unix_millis(col(field)).cast("double")
      case _ => col(field).cast("double")
    }
    rawDocs.filter(col("docId").isin(top.map(_.docId).toSeq: _*))
      .select(col("docId"), Searcher.fvfValue(vCol, field, missing))
      .join(broadcast(topDF), Seq("docId"))
      .select(col("docId"), (col("bm25") *
        FunctionScore.decayMultiplier(col("__fv"), shape, origin, scale, offset, decay))
        .as("score"))
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }
  /** ES field collapsing (`collapse`, round-7 review "What's missing
    * #1"): ONE hit per distinct `field` value — the group's best doc by
    * (score desc, docId asc) — globally ranked by that best score, top
    * `k` groups. Plan: scored match set ([[scoredMatches]]) → key join
    * against the column-pruned doc store → per-key best via a
    * `row_number ≤ 1` window (InferWindowGroupLimit ⇒ pre-shuffle
    * per-partition group limits — a hot key never sorts more than one
    * row per upstream partition past the exchange) → global top-k
    * (TakeOrderedAndProject). Docs with a NULL key collapse into one
    * null group (ES doc-values semantics). Returns (key, doc_id,
    * score), score desc / doc_id asc.
    */
  def collapse(query: BoolQuerySpec, field: String, k: Int,
      /** ES collapse `inner_hits.size`: 1 (default) returns the
        * group's best hit only; > 1 additionally returns the group's
        * next-best hits, ranked by `hit_rank` (same (score desc,
        * docId asc) order). Groups are ALWAYS selected and ordered by
        * their BEST hit — inner hits ride along (ES inner_hits
        * semantics).
        */
      innerHits: Int = 1): DataFrame = {
    require(k > 0, "collapse size must be positive")
    require(innerHits > 0, "inner_hits size must be positive")
    requireMatchSet(query)
    scoredMatches(Analyzer.analyzeQuery(query.query).toSeq) match {
      case None =>
        rawDocs.select(col(field).as("key")).limit(0)
          .withColumn("hit_rank", lit(0)).withColumn("doc_id", lit(0L))
          .withColumn("score", lit(0.0))
      case Some(scored0) =>
        // bool context restricts MEMBERSHIP only (scores stay full-corpus
        // BM25 — the engine-wide filter-context rule)
        val scored =
          if (query == BoolQuerySpec(query.query)) scored0
          else scored0.join(matchingOrEmpty(query), Seq("docId"), "left_semi")
        Searcher.collapseOf(
          rawDocs.select(col("docId"), col(field).as("key")).join(scored, Seq("docId")),
          k, innerHits)
    }
  }

  /** ES `terms` aggregation: (value, n_docs) per distinct `field` value
    * of the match set; `size` as in [[Searcher.termsOrderOf]] (ES
    * terms-agg `size`, 0 = every bucket).
    */
  def facetCounts(query: BoolQuerySpec, field: String, size: Int = 0): DataFrame =
    matchSet(query) match {
      case None =>
        rawDocs.select(col(field).as("value")).limit(0).withColumn("n_docs", lit(0L))
      case Some(matching) =>
        Searcher.termsOrderOf(rawDocs.select(col("docId"), col(field).as("value"))
          .join(matching, Seq("docId"))
          .groupBy(col("value")).agg(count(lit(1)).as("n_docs")), size)
    }

  /** ES `range` aggregation: one row per requested [from, to) bucket
    * (half-open, ES semantics; None = unbounded) with its doc count
    * over the match set. Overlapping ranges are independent counts —
    * ONE pass: every range is a conditional count in a single agg, so
    * the plan costs exactly one match-set join regardless of the range
    * count. Rows come back in request order with `key` "from-to".
    */
  def rangesAgg(query: BoolQuerySpec, field: String,
      ranges: Seq[(Option[Long], Option[Long])]): DataFrame = {
    require(ranges.nonEmpty, "range aggregation needs >= 1 range")
    Searcher.rangesAggOf(matched(query, col(field)), col(field), ranges)
  }

  /** Total hit count of the (optionally bool-filtered) match set (ES
    * `hits.total` / `_count`) — no top-k involved; one distributed
    * count over the decoded docId stream.
    */
  def matchCount(query: BoolQuerySpec): Long =
    matchSet(query).map(_.count()).getOrElse(0L)

  /** ES `histogram` aggregation over the FULL match set: doc counts per
    * fixed-width bucket of a numeric field (bucket = floor(v/width)·
    * width; empty buckets omitted — ES min_doc_count=1 shape). Same
    * index-side plan as [[facetCounts]]: membership scan → docId join
    * against the column-pruned doc store → hash agg; the match set
    * never touches the driver.
    */
  def numericHistogram(query: BoolQuerySpec, field: String, width: Long): DataFrame = {
    require(width > 0, "histogram width must be positive")
    matched(query, col(field))
      .groupBy((floor(col(field) / lit(width)) * lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bucket"))
  }

  /** ES `date_histogram` (calendar_interval) over the match set:
    * `interval` is a `date_trunc` unit — "day", "hour", "week",
    * "month", … Empty buckets omitted.
    */
  def dateHistogram(query: BoolQuerySpec, field: String, interval: String): DataFrame =
    matched(query, col(field))
      .groupBy(date_trunc(interval, col(field)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bucket"))

  /** ES `stats` aggregation over the match set: count / min / max /
    * avg / sum of a numeric field among all docs matching ≥ 1 query
    * term. One distributed agg — no top-k, no driver materialization.
    */
  def fieldStats(query: BoolQuerySpec, field: String): DataFrame =
    matched(query, col(field))
      .agg(count(lit(1)).as("n_docs"), min(col(field)).as("min"),
        max(col(field)).as("max"), avg(col(field)).as("avg"),
        sum(col(field)).as("sum"))

  /** The matched (docId, field-value) frame — the DISTRIBUTED input
    * every value aggregation consumes, exposed (lazy, unexecuted) so
    * cross-index aggregations ([[Indices.percentiles]] / `cardinality`)
    * can union the per-index match sets into ONE job: a doc lives in
    * exactly one index, so the union IS the global match set and any
    * order-statistic over it is exact — no sketch-state merge needed.
    */
  def matchedField(query: BoolQuerySpec, field: String): DataFrame =
    matched(query, col(field))

  /** Match set sorted by a FIELD instead of by score (ES `sort`): docs
    * containing ≥1 query term, ordered by `field` (desc/asc) with docId
    * as the deterministic tiebreak, top `k`. Plan: membership scan →
    * docId join against the column-pruned doc store →
    * TakeOrderedAndProject (per-partition heaps, driver merge of ≤k) —
    * never a global sort.
    */
  def searchSortedBy(query: BoolQuerySpec, field: String, k: Int,
      descending: Boolean = true,
      /** Pagination offset on the field ordering (ES sort + from);
        * plans as TakeOrderedAndProject with limit+offset — still
        * per-partition heaps, never a global sort.
        */
      from: Int = 0,
      /** ES `search_after` on the FIELD ordering: the (fieldValue,
        * docId) sort key of the previous page's last hit — only rows
        * strictly after it are returned, so deep pages cost k (not
        * from + k) per partition heap. Composes with `from` (applied
        * after the cursor). Same offer-guard soundness as the
        * score-ranked cursor: the predicate only REMOVES candidates.
        */
      after: Option[(Any, Long)] = None): DataFrame = {
    val ord =
      if (descending) Seq(col(field).desc, col("docId").asc)
      else Seq(col(field).asc, col("docId").asc)
    matchSet(query) match {
      case None => rawDocs.select(col("docId"), col(field)).limit(0)
      case Some(matching) =>
        val base = rawDocs.select(col("docId"), col(field)).join(matching, Seq("docId"))
        val paged = after match {
          case None => base
          case Some((v, d)) =>
            val cur =
              if (descending) col(field) < lit(v) || (col(field) === lit(v) && col("docId") > lit(d))
              else col(field) > lit(v) || (col(field) === lit(v) && col("docId") > lit(d))
            base.filter(cur)
        }
        paged.orderBy(ord: _*).offset(from).limit(k)
    }
  }

  /** ES sub-aggregation: `terms` buckets over `bucketField` with a
    * nested `stats` over `statField` per bucket — one extra groupBy on
    * the same match-set join as [[facetCounts]] (the match set never
    * touches the driver; both fields are column-pruned at the scan).
    */
  def facetStats(query: BoolQuerySpec, bucketField: String, statField: String): DataFrame =
    matched(query, col(bucketField).as("value"), col(statField))
      .groupBy(col("value"))
      .agg(count(lit(1)).as("n_docs"), min(col(statField)).as("min"),
        max(col(statField)).as("max"), avg(col(statField)).as("avg"),
        sum(col(statField)).as("sum"))
      .orderBy(col("value"))

  /** Nested / composite aggregation tree over the match set (ES
    * multi-level sub-aggregations — terms→date_histogram→stats,
    * terms→terms→count, any [[BucketLevel]] composition): ONE match-set
    * join + ONE rollup pass computes every tree level — see
    * [[Aggs.nestedAggOf]] for the output contract (key columns, depth,
    * n_docs, optional min/max/avg/sum of `statField`) and the one-pass
    * scale argument.
    */
  def nestedAgg(query: BoolQuerySpec, levels: Seq[BucketLevel],
      statField: Option[String] = None): DataFrame = {
    val srcCols = (levels.map(_.field) ++ statField.toSeq).distinct
    Aggs.nestedAggOf(matched(query, srcCols.map(col): _*), levels, statField)
  }

  /** ES `composite` aggregation with `after`-key paging over the match
    * set — see [[Aggs.compositeAggOf]] for the paging contract (flat
    * key tuples, keys-asc, exclusive cursor).
    */
  def compositeAgg(query: BoolQuerySpec, levels: Seq[BucketLevel], size: Int,
      after: Option[Seq[Any]] = None,
      statField: Option[String] = None): DataFrame = {
    val srcCols = (levels.map(_.field) ++ statField.toSeq).distinct
    Aggs.compositeAggOf(matched(query, srcCols.map(col): _*), levels, statField, size, after)
  }

  /** ES `cardinality` aggregation: number of DISTINCT values of `field`
    * among the match set (docs missing the field don't count — ES
    * semantics; countDistinct ignores nulls). `approximate = false`
    * (default) is the exact distributed count-distinct (partial
    * aggregation per partition, one shuffle on the value); `true` is
    * the ES-shaped scale path — a fixed-size HyperLogLog++ sketch
    * (`approx_count_distinct`), constant memory per partition at any
    * cardinality, mergeable without re-scanning.
    */
  def cardinality(query: BoolQuerySpec, field: String, approximate: Boolean = false): Long =
    matchSet(query) match {
      case None => 0L
      case Some(m) => Searcher.cardinalityOf(
        rawDocs.select(col("docId"), col(field)).join(m, Seq("docId")), field, approximate)
    }

  /** ES `percentiles` aggregation over the match set: one row per
    * requested percentile `(p, value)`, ps in [0, 1]. `approximate =
    * false` (default) evaluates Spark's EXACT `percentile` (linear
    * interpolation between closest ranks — the `quantile_cont` rule;
    * per-partition value-count maps merged in one agg, memory bounded
    * by the field's DISTINCT-value count); `true` is the ES-shaped
    * scale path — `percentile_approx`'s fixed-size QuantileSummaries
    * sketch, constant memory at any cardinality (ES uses t-digest).
    * Docs missing the field are ignored (ES semantics).
    */
  def percentiles(query: BoolQuerySpec, field: String, ps: Seq[Double],
      approximate: Boolean = false): DataFrame =
    Searcher.percentilesOf(matched(query, col(field)), field, ps, approximate)

  /** ES `top_hits` sub-aggregation: per `bucketField` bucket, the top
    * `k` matching docs by `sortField` (docId tiebreak — deterministic).
    * Plan: match-set join → row_number window partitioned by bucket —
    * Catalyst's InferWindowGroupLimit rewrites the `rank ≤ k` filter
    * into a pre-shuffle per-partition group-limit (the per-shard-heap
    * shape ES runs; verified in PLANS.md), so a hot bucket never sorts
    * more than k rows per upstream partition before the exchange.
    */
  def facetTopHits(query: BoolQuerySpec, bucketField: String, sortField: String,
      k: Int, descending: Boolean = true): DataFrame = {
    require(k > 0, "top_hits size must be positive")
    val ord =
      if (descending) Seq(col(sortField).desc, col("docId").asc)
      else Seq(col(sortField).asc, col("docId").asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("value")).orderBy(ord: _*)
    matched(query, col(bucketField).as("value"), col(sortField))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(k))
      .select(col("value"), col("rank").cast("long").as("rank"),
        col("docId").as("doc_id"), col(sortField).cast("long").as("sort_value"))
      .orderBy(col("value"), col("rank"))
  }

  /** ES `filters` aggregation: one NAMED bucket per keyword
    * (field = value) predicate, each an independent doc count over the
    * match set (buckets may overlap — they're separate counters). ONE
    * pass: every bucket is a conditional count in a single agg over
    * the match-set join, unpivoted via `stack` in request order —
    * bucket count never multiplies scans.
    */
  def filtersAgg(query: BoolQuerySpec, buckets: Seq[(String, (String, String))]): DataFrame = {
    require(buckets.nonEmpty, "filters aggregation needs >= 1 named bucket")
    Searcher.filtersAggOf(matched(query, buckets.map(_._2._1).distinct.map(col): _*), buckets)
  }

  /** ES `significant_terms` aggregation: terms over-represented in the
    * match set relative to the whole corpus, scored with ES's JLH rule
    * — score = (fg% − bg%) · (fg% / bg%) where fg% = fgCount/fgN over
    * the match set and bg% = df/N from the DICTIONARY (no second
    * corpus scan for background stats). Plan: match-set join → one
    * re-tokenize pass over matching docs only → hash agg → broadcast-
    * size join with the dictionary rows of the surviving terms. Terms
    * below `minDocCount` foreground docs are dropped (ES default
    * shape); top `k` by (score desc, term asc) — deterministic.
    */
  def significantTerms(query: BoolQuerySpec, k: Int, minDocCount: Long = 3L,
      /** ES `sampler`-agg cap on the foreground pass (round-6 review
        * "What's wrong #4"): > 0 bounds the re-tokenized match set to
        * the `sampleSize` LOWEST docIds (deterministic — ES samples by
        * shard score; the deviation is documented) so a broad query at
        * corpus scale never re-tokenizes the whole corpus. fg counts
        * and fg% then describe the SAMPLE (exact ES sampler semantics);
        * the cap is disclosed via log. 0 = off.
        */
      sampleSize: Int = 0): DataFrame = {
    val empty = Seq.empty[(String, Long, Long, Double)]
      .toDF("term", "fg_count", "bg_count", "score")
    matchSet(query) match {
      case None => empty
      case Some(m0) =>
        // TakeOrderedAndProject: per-partition heaps of ≤ sampleSize,
        // never a global sort of the match set
        val m = if (sampleSize > 0) m0.orderBy(col("docId")).limit(sampleSize) else m0
        val fgN = m.count()
        if (fgN == 0) return empty
        if (sampleSize > 0 && fgN == sampleSize)
          org.slf4j.LoggerFactory.getLogger(getClass)
            .info(s"significant_terms: foreground sampled to $sampleSize docs (sampler cap)")
        val fg = rawDocs
          .select(col("docId"),
            explode(array_distinct(Analyzer.tokensCol(col("text")))).as("term"))
          .join(m, Seq("docId"))
          .groupBy(col("term")).agg(count(lit(1)).as("fg_count"))
          .filter(col("fg_count") >= lit(minDocCount))
        val bg = termDfFrame("text").select(col("term"), col("df").as("bg_count"))
        Searcher.jlhScore(fg.join(bg, Seq("term")), fgN, n)
          .orderBy(col("score").desc, col("term").asc).limit(k)
    }
  }

  /** Every live doc store as one DataFrame (docIds globally unique;
    * tombstoned docs excluded — the LWW-visible corpus).
    */
  def docs: DataFrame = liveOnly(rawDocs)

  /** Segment doc stores unioned WITHOUT the tombstone anti-join — for
    * docId joins against sets that are already tombstone-filtered (the
    * match set; resolved top-k hits): one anti-join per query, not two
    * (round-4 review "What's wrong #2").
    */
  private def rawDocs: DataFrame = segDocs.reduce(_ unionByName _)
}


/** The in-repo exhaustive-scoring oracle (SURVEY.md §5.2.3): brute-force
  * BM25 from the raw docs, no index structures — defines rank-identity
  * truth for the golden tests. Per-doc score = sum of per-term
  * contributions in ascending term order, pinned via
  * sort_array(collect_list(struct(term, s))) + aggregate().
  */
object Oracle {

  /** Per-posting scored rows for a query term set. */
  private def scoredPostings(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    val row = docs.agg(count(lit(1)), avg(Analyzer.dlCol(col("text")))).head()
    val n = row.getLong(0)
    val avgdl = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
    val postings = docs
      .select(col("docId"), Analyzer.dlCol(col("text")).as("dl"),
        explode(Analyzer.tokensCol(col("text"))).as("term"))
      .groupBy(col("term"), col("docId"), col("dl"))
      .agg(count(lit(1)).cast("int").as("tf"))
    val df = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    postings
      .filter(col("term").isin(terms: _*))
      .join(df, Seq("term"))
      .withColumn("s", Bm25.scoreCol(col("tf"), col("df"), col("dl"), n, avgdl))
  }

  private def orderedSum: Column =
    aggregate(
      sort_array(collect_list(struct(col("term"), col("s")))),
      lit(0.0),
      (acc, x) => acc + x.getField("s")
    )

  def topK(docs: DataFrame, query: String, k: Int): DataFrame = {
    val terms = Analyzer.analyzeQuery(query).toSeq
    if (terms.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .withColumn("docId", lit(0L)).withColumn("score", lit(0.0)).limit(0)
    scoredPostings(docs, terms)
      .groupBy(col("docId"))
      .agg(orderedSum.as("score"))
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** Exhaustive phrase oracle: conjunctive BM25 scoring restricted to
    * docs whose analyzed token stream contains the analyzed query tokens
    * adjacently in order — computed by substring search on the
    * space-joined token stream (tokens cannot contain spaces, so the
    * padded-substring test is exact).
    */
  def topKPhrase(docs: DataFrame, query: String, k: Int): DataFrame = {
    val slots = Analyzer.tokenize(query).toSeq
    if (slots.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .withColumn("docId", lit(0L)).withColumn("score", lit(0.0)).limit(0)
    val terms = slots.distinct.sorted
    val stream = concat(lit(" "), array_join(Analyzer.tokensCol(col("text")), " "), lit(" "))
    val hasPhrase = docs
      .filter(instr(stream, " " + slots.mkString(" ") + " ") > lit(0))
      .select(col("docId"))
    scoredPostings(docs, terms)
      .groupBy(col("docId"))
      .agg(orderedSum.as("score"), count(lit(1)).as("nt"))
      .filter(col("nt") === lit(terms.size))
      .drop("nt")
      .join(hasPhrase, Seq("docId"), "left_semi")
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** Per-(field, term) scored contributions of `query`'s tokens in one
    * analyzed field, under the FIELD's own stats (docCount = docs with
    * ≥1 token; avgdl over those docs) — the exhaustive twin of the
    * engine's per-field BM25. Emits (docId, key, s) where `key` is the
    * namespaced term (sum-ordering key). field "text" = the main field
    * (corpus stats — N counts ALL docs, like [[scoredPostings]]).
    */
  private def fieldContribs(docs: DataFrame, field: String, toks: Seq[String],
      boost: Double): DataFrame = {
    if (field == "text")
      return scoredPostings(docs, toks)
        .select(col("docId"), col("term").as("key"), (col("s") * lit(boost)).as("s"))
    val fcol = col(field).cast("string")
    val dlc = coalesce(Analyzer.dlCol(fcol), lit(0))
    val row = docs.agg(count(when(dlc > lit(0), 1)),
      coalesce(sum(dlc.cast("long")), lit(0L))).head()
    val nF = row.getLong(0)
    val avgdlF = if (nF == 0) 0.0 else row.getLong(1).toDouble / nF
    val postings = docs
      .select(col("docId"), dlc.as("dl"), explode(Analyzer.tokensCol(fcol)).as("tok"))
      .groupBy(col("tok"), col("docId"), col("dl"))
      .agg(count(lit(1)).cast("int").as("tf"))
    val dfT = postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    postings
      .filter(col("tok").isin(toks: _*))
      .join(dfT, Seq("tok"))
      .select(col("docId"),
        concat(lit(graft.index.FieldTerms.textTerm(field, "")), col("tok")).as("key"),
        (Bm25.scoreCol(col("tf"), col("df"), col("dl"), nF, avgdlF) * lit(boost)).as("s"))
  }

  private def orderedKeySum: Column =
    aggregate(
      sort_array(collect_list(struct(col("key"), col("s")))),
      lit(0.0),
      (acc, x) => acc + x.getField("s")
    )

  /** Exhaustive fielded-match oracle: BM25 top-k over one analyzed
    * field, per-field stats ([[fieldContribs]]); `conjunctive` requires
    * every term in the field.
    */
  def topKField(docs: DataFrame, field: String, query: String, k: Int,
      conjunctive: Boolean = false): DataFrame = {
    val toks = Analyzer.analyzeQuery(query).toSeq
    if (toks.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .withColumn("docId", lit(0L)).withColumn("score", lit(0.0)).limit(0)
    val g = fieldContribs(docs, field, toks, 1.0)
      .groupBy(col("docId"))
      .agg(orderedKeySum.as("score"), count(lit(1)).as("nt"))
    (if (conjunctive) g.filter(col("nt") === lit(toks.size)) else g)
      .drop("nt")
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** Exhaustive `multi_match` oracle (most_fields, summed): every
    * (field, term) contribution boost-scaled and summed in ascending
    * namespaced-term order — the engine's exact rule.
    */
  def topKMulti(docs: DataFrame, query: String, fields: Seq[(String, Double)],
      k: Int): DataFrame = {
    val toks = Analyzer.analyzeQuery(query).toSeq
    if (toks.isEmpty || fields.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .withColumn("docId", lit(0L)).withColumn("score", lit(0.0)).limit(0)
    fields.map { case (f, b) => fieldContribs(docs, f, toks, b) }
      .reduce(_ unionByName _)
      .groupBy(col("docId"))
      .agg(orderedKeySum.as("score"))
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** Exhaustive `multi_match` best_fields oracle (ES's default mode):
    * per-field sums s_f fold in ascending namespaced-key order; score
    * re-folds every contribution in the SAME global order weighted 1 on
    * the best field (ties → the field whose namespace sorts first) and
    * `tieBreaker` elsewhere — exactly [[Wand.BestFields]]'s rule, so
    * tieBreaker = 1 is bit-identical to [[topKMulti]].
    */
  def topKMultiBest(docs: DataFrame, query: String, fields: Seq[(String, Double)],
      tieBreaker: Double, k: Int): DataFrame = {
    val toks = Analyzer.analyzeQuery(query).toSeq
    if (toks.isEmpty || fields.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .withColumn("docId", lit(0L)).withColumn("score", lit(0.0)).limit(0)
    val ordered = fields.map(_._1).sortBy(f =>
      if (f == "text") "\uffff" else graft.index.FieldTerms.textTerm(f, ""))
    val ordOf: Map[String, Int] = ordered.zipWithIndex.toMap
    val contribs = fields.map { case (f, b) =>
      fieldContribs(docs, f, toks, b).withColumn("fld", lit(ordOf(f)))
    }.reduce(_ unionByName _)
    val per = contribs.groupBy(col("docId"), col("fld")).agg(orderedKeySum.as("sf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("docId")).orderBy(col("sf").desc, col("fld").asc)
    val best = per.withColumn("rn", row_number().over(w)).filter(col("rn") === lit(1))
      .select(col("docId"), col("fld").as("bfld"))
    contribs.join(best, Seq("docId"))
      .select(col("docId"), col("key"),
        (when(col("fld") === col("bfld"), lit(1.0)).otherwise(lit(tieBreaker)) * col("s"))
          .as("s"))
      .groupBy(col("docId"))
      .agg(orderedKeySum.as("score"))
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** best_fields + bool `should` oracle (round-6 advice): the should
    * tokens' MAIN-TEXT contributions fold at weight 1 in the same
    * global ascending-key order and never enter any field's dis-max sum
    * (ES semantics — separate bool clauses add at full weight). Docs
    * matching only should terms are dropped (the must-group ≥ 1 rule).
    * `should` tokens must be disjoint from the query's scored terms.
    */
  def topKMultiBestShould(docs: DataFrame, query: String,
      fields: Seq[(String, Double)], tieBreaker: Double, should: String,
      k: Int): DataFrame = {
    val toks = Analyzer.analyzeQuery(query).toSeq
    val sToks = Analyzer.analyzeQuery(should).toSeq
    if (toks.isEmpty || fields.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .withColumn("docId", lit(0L)).withColumn("score", lit(0.0)).limit(0)
    val ordered = fields.map(_._1).sortBy(f =>
      if (f == "text") "\uffff" else graft.index.FieldTerms.textTerm(f, ""))
    val ordOf: Map[String, Int] = ordered.zipWithIndex.toMap
    val mm = fields.map { case (f, b) =>
      fieldContribs(docs, f, toks, b).withColumn("fld", lit(ordOf(f)))
    }.reduce(_ unionByName _)
    val sh = fieldContribs(docs, "text", sToks, 1.0).withColumn("fld", lit(-1))
    val per = mm.groupBy(col("docId"), col("fld")).agg(orderedKeySum.as("sf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("docId")).orderBy(col("sf").desc, col("fld").asc)
    val best = per.withColumn("rn", row_number().over(w)).filter(col("rn") === lit(1))
      .select(col("docId"), col("fld").as("bfld"))
    mm.unionByName(sh).join(best, Seq("docId")) // inner: must-group ≥ 1
      .select(col("docId"), col("key"),
        (when(col("fld") === lit(-1) || col("fld") === col("bfld"), lit(1.0))
          .otherwise(lit(tieBreaker)) * col("s")).as("s"))
      .groupBy(col("docId"))
      .agg(orderedKeySum.as("score"))
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** General `dis_max` oracle (round-7): per-sub-query group sums in
    * ascending term order pick the best group (sum desc, group ordinal
    * asc — the engine's first-max rule), then every term's contribution
    * is weighted (1 for the best group, tieBreaker otherwise) and the
    * final score sums in GLOBAL ascending term order — the exact FP
    * association of the WAND best-fields fold.
    */
  def topKDisMax(docs: DataFrame, subQueries: Seq[String], tieBreaker: Double,
      k: Int): DataFrame = {
    val groups = subQueries.map(q => Analyzer.analyzeQuery(q).toSeq.distinct)
    val toks = groups.flatten
    val spark = docs.sparkSession
    import spark.implicits._
    val gOf = groups.zipWithIndex.flatMap { case (ts, i) => ts.map(_ -> i) }
      .toDF("key", "g")
    val contribs = fieldContribs(docs, "text", toks, 1.0)
      .join(broadcast(gOf), Seq("key"))
    val per = contribs.groupBy(col("docId"), col("g")).agg(orderedKeySum.as("sg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("docId")).orderBy(col("sg").desc, col("g").asc)
    val best = per.withColumn("rn", row_number().over(w)).filter(col("rn") === lit(1))
      .select(col("docId"), col("g").as("bg"))
    contribs.join(best, Seq("docId"))
      .select(col("docId"), col("key"),
        (when(col("g") === col("bg"), lit(1.0)).otherwise(lit(tieBreaker)) * col("s")).as("s"))
      .groupBy(col("docId"))
      .agg(orderedKeySum.as("score"))
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  def topKConjunctive(docs: DataFrame, query: String, k: Int): DataFrame = {
    val terms = Analyzer.analyzeQuery(query).toSeq
    if (terms.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .withColumn("docId", lit(0L)).withColumn("score", lit(0.0)).limit(0)
    scoredPostings(docs, terms)
      .groupBy(col("docId"))
      .agg(orderedSum.as("score"), count(lit(1)).as("nt"))
      .filter(col("nt") === lit(terms.size))
      .drop("nt")
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }
}
