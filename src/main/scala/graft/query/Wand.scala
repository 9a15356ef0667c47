package graft.query

import graft.index.Codec
import graft.model.{PostingBlock, Scored}

/** BM25 top-k over decoded posting lists (north_rule: "BM25 top-k
  * query executor using posting-list intersection with block-max WAND
  * pruning"): block-max MaxScore for disjunctions ([[topK]]) and a
  * block-max intersection for AND / phrase ([[topKConjunctive]],
  * [[topKPhrase]]). Exact: pruning uses per-term global upper bounds and
  * per-block max scores with a small safety margin, so it never skips a
  * doc that could enter the top-k; every surviving doc is scored with
  * the exact BM25 sum in ascending term order — bit-identical to the
  * exhaustive oracle (SURVEY.md §7.5 float-determinism decisions).
  */
object Wand {
  private val Margin = 1e-7

  /** The full positional-cursor interface the intersection executor
    * drives: a required AND/phrase list is anything that can report a
    * block-level bound + horizon (for the block-max early exit),
    * positions (for phrase slots) and an exact score contribution.
    * [[TermIterator]] is the single-posting-list instance;
    * [[UnionPosIterator]] the multi-term disjunction slot
    * (`match_phrase_prefix`'s expanded last position).
    */
  trait PosCursor extends DocCursor {
    def term: String
    def ub: Double
    def exhausted: Boolean
    def blockMax: Double
    def blockLast: Long
    def shallowSeek(target: Long): Unit
    def advancePast(doc: Long): Unit
    /** Decodes the current posting's token positions (ascending) into
      * [[posBuf]] and returns their count. Valid until the cursor moves.
      */
    def positions(): Int
    /** The cursor's grow-only position buffer: read it after
      * [[positions]], up to the count that returned.
      */
    def posBuf: Array[Int]
    def score: Double
  }

  /** First index i in [from, until) with a(i) ≥ target, or `until` when
    * there is none (`a` ascending over the range): exponential probe
    * from `from`, then a binary search — O(log gap).
    */
  def gallop(a: Array[Long], from: Int, until: Int, target: Long): Int = {
    if (from >= until || a(from) >= target) return from
    var lo = from // a(lo) < target
    var step = 1
    while (lo + step < until && a(lo + step) < target) { lo += step; step <<= 1 }
    var l = lo + 1
    var h = math.min(until, lo + step)
    while (l < h) {
      val m = (l + h) >>> 1
      if (a(m) < target) l = m + 1 else h = m
    }
    l
  }

  /** One term's postings in the layout [[TermIterator]] reads, every
    * posting decoded once ([[PostingList.decoded]]): its docId, tf, exact
    * unboosted BM25 contribution and the byte offset of its positions in
    * its block's stream. Per block b: `lastDocs(b)`, the unboosted score
    * bound `maxes(b)` (the exact maximum of the block's scores), the index
    * range [starts(b), starts(b + 1)) of its postings and its position
    * stream `poss(b)`. `ub` is the unboosted bound of the whole list.
    */
  final class PostingList private (
      val ub: Double,
      val lastDocs: Array[Long],
      val maxes: Array[Double],
      val starts: Array[Int],
      val poss: Array[Array[Byte]],
      val docs: Array[Long],
      val tfs: Array[Int],
      val scores: Array[Double],
      val posOffs: Array[Int]) {
    def nBlocks: Int = lastDocs.length
  }

  object PostingList {
    /** max of a(from until until); −∞ when empty. */
    private def maxOf(a: Array[Double], from: Int, until: Int): Double = {
      var mx = Double.NegativeInfinity
      var i = from
      while (i < until) { if (a(i) > mx) mx = a(i); i += 1 }
      mx
    }

    /** Every block of `bs` (in cursor order, docId-disjoint) decoded and
      * scored once under (idf, avgdl) — each score the exact unboosted
      * `Bm25.scoreIdf(idf, tf, dl, avgdl)` — position offsets included, so
      * a cursor over it decodes and rescores nothing. Each block's bound
      * is the maximum of its scores: exact under any stats (under a
      * single segment's own stats it is bitwise the block's stored
      * maxScore).
      */
    def decoded(bs: Array[PostingBlock], idf: Double, avgdl: Double): PostingList = {
      val starts = new Array[Int](bs.length + 1)
      var b = 0
      while (b < bs.length) { starts(b + 1) = starts(b) + bs(b).count; b += 1 }
      val total = starts(bs.length)
      val docs = new Array[Long](total)
      val tfs = new Array[Int](total)
      val scores = new Array[Double](total)
      val posOffs = new Array[Int](total)
      val dls = new Array[Int](bs.iterator.map(_.count).maxOption.getOrElse(0))
      val maxes = new Array[Double](bs.length)
      b = 0
      while (b < bs.length) {
        val blk = bs(b)
        val at = starts(b)
        Codec.deltaDecodeInto(blk.docs, blk.count, blk.firstDocId, docs, at)
        Codec.decodeVarIntsInto(blk.tfs, blk.count, tfs, at)
        Codec.decodeVarIntsInto(blk.dls, blk.count, dls)
        var i = 0
        while (i < blk.count) {
          scores(at + i) = Bm25.scoreIdf(idf, tfs(at + i), dls(i), avgdl); i += 1
        }
        if (blk.poss != null && blk.poss.nonEmpty) {
          var off = 0
          i = at
          while (i < starts(b + 1)) {
            posOffs(i) = off; off = Codec.skipVarInts(blk.poss, off, tfs(i)); i += 1
          }
        }
        maxes(b) = maxOf(scores, at, starts(b + 1))
        b += 1
      }
      new PostingList(maxOf(maxes, 0, maxes.length), bs.map(_.lastDocId), maxes, starts,
        bs.map(_.poss), docs, tfs, scores, posOffs)
    }
  }

  /** One term's posting cursor over a [[PostingList]] (blocks in
    * firstDocId order, docId-disjoint — guaranteed by build: range-
    * partitioned runs within docId-range buckets). Block and in-block
    * seeks gallop ([[gallop]]) over `lastDocs` and then the block's
    * docIds; block skipping never loads a skipped block.
    *
    * The cursor reads the list's resident arrays: loading a block is an
    * index switch, [[score]] is `boost · scores(pos)`, [[positions]]
    * decodes one posting at its stored offset into a grow-only buffer.
    * No allocation per block or per posting; [[posBuf]] is valid only
    * for the current posting, until the cursor moves (nextGEQ /
    * advancePast / shallowSeek). `decodes` counts blocks loaded.
    */
  final class TermIterator(
      val term: String,
      list: PostingList,
      val ub: Double,
      /** Score multiplier (ES per-field boost — `multi_match` weights).
        * Scales `score` AND both block-max bounds, so pruning stays
        * sound; callers must pass a pre-scaled `ub`.
        */
      boost: Double,
      /** dis_max group this INSTANCE is attributed to (shared-term
        * sub-queries build one iterator per (group, term) —
        * [[BestFields.groupsOf]]); Int.MinValue = unset, attribution
        * falls back to the term-keyed [[BestFields.fieldOf]] map.
        */
      val groupOrdinal: Int
  ) extends PosCursor {
    private val lastDocs = list.lastDocs
    private val nBlocks = list.nBlocks
    private val docs = list.docs
    private val tfs = list.tfs
    private val scores = list.scores
    private val posOffs = list.posOffs
    private var bi = 0
    /** Block `bi` is loaded: its postings end at index `end` of the
      * list's arrays and `pos` is the current one. False after a block
      * skip.
      */
    private var loaded = false
    private var pos = 0
    private var end = 0
    private var buf = Array.emptyIntArray
    private var bufCount = 0
    /** The posting whose positions `buf` holds (−1 = none). */
    private var bufAt = -1
    /** Blocks loaded (pruning-effectiveness metric: block skips and
      * block-max early exits avoid loads entirely).
      */
    var decodes: Long = 0L
    var curDoc: Long = _
    if (nBlocks == 0) curDoc = Long.MaxValue
    else { load(); curDoc = docs(pos) }

    private def load(): Unit = {
      pos = list.starts(bi); end = list.starts(bi + 1)
      loaded = true; bufAt = -1
      decodes += 1
    }

    def positions(): Int = {
      if (bufAt != pos) {
        val bytes = list.poss(bi)
        require(bytes != null && bytes.nonEmpty,
          s"index stores no positions for term '$term' — build with storePositions=true")
        val tf = tfs(pos)
        if (buf.length < tf) buf = new Array[Int](math.max(tf, 2 * buf.length).max(8))
        Codec.positionsInto(bytes, posOffs(pos), tf, buf)
        bufCount = tf; bufAt = pos
      }
      bufCount
    }

    def posBuf: Array[Int] = buf

    def exhausted: Boolean = curDoc == Long.MaxValue

    /** Max score of the block that contains (or is the first after) the
      * current position — used for the block-max refinement.
      */
    def blockMax: Double = if (bi >= nBlocks) 0.0 else boost * list.maxes(bi)

    /** Last docId of the current block (skip horizon). */
    def blockLast: Long = if (bi >= nBlocks) Long.MaxValue else lastDocs(bi)

    /** Shallow block seek: advance the block pointer (no load) until the
      * current block's lastDocId >= target. Invalidates the in-block
      * position, so callers must follow with nextGEQ(target) before
      * reading scores; curDoc stays a lower bound.
      */
    def shallowSeek(target: Long): Unit = {
      if (bi < nBlocks && lastDocs(bi) >= target) return
      bi = gallop(lastDocs, bi, nBlocks, target)
      loaded = false; bufAt = -1
      if (bi >= nBlocks) curDoc = Long.MaxValue
    }

    def nextGEQ(target: Long): Unit = {
      if (curDoc >= target && loaded) return
      if (bi < nBlocks && lastDocs(bi) < target) {
        bi = gallop(lastDocs, bi + 1, nBlocks, target); loaded = false
      }
      if (bi >= nBlocks) { curDoc = Long.MaxValue; loaded = false; bufAt = -1; return }
      if (!loaded) load()
      // lastDocs(bi) >= target: the block holds the answer
      pos = gallop(docs, pos, end, target)
      curDoc = docs(pos)
    }

    def advancePast(doc: Long): Unit = nextGEQ(doc + 1)

    /** Exact (boost-scaled) BM25 contribution at the current position. */
    def score: Double = boost * scores(pos)
  }

  /** `bs` in cursor order, (firstDocId, lastDocId): returned as is when
    * already ordered, else sorted.
    */
  def inBlockOrder(bs: Array[PostingBlock]): Array[PostingBlock] = {
    var i = 1
    while (i < bs.length) {
      val a = bs(i - 1)
      val b = bs(i)
      if (a.firstDocId > b.firstDocId ||
        (a.firstDocId == b.firstDocId && a.lastDocId > b.lastDocId))
        return bs.sortBy(b => (b.firstDocId, b.lastDocId))
      i += 1
    }
    bs
  }

  /** Membership-only cursor over a sorted docId stream — what filter /
    * must_not clauses need (curDoc/nextGEQ, never scores). TermIterator
    * is the single-posting-list instance; [[UnionCursor]] the
    * disjunction.
    */
  trait DocCursor {
    def curDoc: Long
    def nextGEQ(target: Long): Unit
  }

  /** Membership cursor over a SORTED, distinct docId array — what
    * tombstone exclusion needs (cross-segment last-write-wins upsert:
    * superseded docs are skipped like `must_not` lists, but the list
    * lives in the tombstone store, not in postings). Galloping + binary
    * search advance: O(log gap) per nextGEQ.
    */
  final class SortedArrayCursor(ids: Array[Long]) extends DocCursor {
    private var i = 0
    def curDoc: Long = if (i < ids.length) ids(i) else Long.MaxValue
    def nextGEQ(target: Long): Unit = i = gallop(ids, i, ids.length, target)
  }

  /** Disjunction of posting lists as one cursor (ES `terms` / `range`
    * filter clauses: doc matches if it carries ANY of the clause's
    * values). curDoc = min over members; members are advanced lazily on
    * nextGEQ. Linear min-scan per advance — filter clauses expand to a
    * handful of field values (and each advance is amortized against the
    * galloping block skips inside the members), so a heap buys nothing
    * at this fan-in.
    */
  final class UnionCursor(members: Seq[TermIterator]) extends DocCursor {
    private val ms = members.toArray
    private var cur = if (ms.isEmpty) Long.MaxValue else ms.map(_.curDoc).min
    def curDoc: Long = cur
    def nextGEQ(target: Long): Unit = {
      if (cur >= target) return
      var min = Long.MaxValue
      var i = 0
      while (i < ms.length) {
        if (ms(i).curDoc < target) ms(i).nextGEQ(target)
        if (ms(i).curDoc < min) min = ms(i).curDoc
        i += 1
      }
      cur = min
    }
  }

  /** Disjunction of posting lists as ONE required positional slot — the
    * `match_phrase_prefix` rewrite (Lucene's MultiPhraseQuery position):
    * the doc matches the slot when ANY member term occurs, and the
    * slot's positions are the members' merged occurrence positions.
    * Score contribution is 0 (the engine's documented phrase-scoring
    * rule sums the FIXED phrase terms; the expanded slot gates
    * membership only), so `blockMax = 0` keeps block-max pruning sound
    * and `blockLast = MaxValue` never constrains the skip horizon (a
    * zero bound is valid over any span).
    */
  final class UnionPosIterator(val term: String, members: Array[TermIterator])
      extends PosCursor {
    require(members.nonEmpty, "empty prefix-slot expansion")
    val ub = 0.0
    private var cur = members.map(_.curDoc).min
    def curDoc: Long = cur
    def nextGEQ(target: Long): Unit = {
      if (cur >= target) return
      var min = Long.MaxValue
      var i = 0
      while (i < members.length) {
        if (members(i).curDoc < target) members(i).nextGEQ(target)
        if (members(i).curDoc < min) min = members(i).curDoc
        i += 1
      }
      cur = min
    }
    def advancePast(doc: Long): Unit = nextGEQ(doc + 1)
    def shallowSeek(target: Long): Unit = {
      var i = 0
      while (i < members.length) { members(i).shallowSeek(target); i += 1 }
      if (exhausted) cur = Long.MaxValue
    }
    def exhausted: Boolean = members.forall(_.exhausted)
    def blockMax: Double = 0.0
    def blockLast: Long = Long.MaxValue
    def score: Double = 0.0
    private var buf = Array.emptyIntArray
    def posBuf: Array[Int] = buf
    /** Merged ascending distinct occurrence positions of the members
      * sitting on the current doc (each aligned member's in-block
      * position is valid after the nextGEQ that aligned it).
      */
    def positions(): Int = {
      var len = 0
      var merged = 0
      var i = 0
      while (i < members.length) {
        val m = members(i)
        if (m.curDoc == cur) {
          val c = m.positions()
          if (buf.length < len + c)
            buf = java.util.Arrays.copyOf(buf, math.max(len + c, 2 * buf.length).max(16))
          System.arraycopy(m.posBuf, 0, buf, len, c)
          len += c
          merged += 1
        }
        i += 1
      }
      if (merged <= 1) len
      else {
        java.util.Arrays.sort(buf, 0, len)
        var out = 0
        i = 0
        while (i < len) {
          if (out == 0 || buf(i) != buf(out - 1)) { buf(out) = buf(i); out += 1 }
          i += 1
        }
        out
      }
    }
  }

  /** ES `multi_match` best_fields combination (the multi_match DEFAULT
    * mode): per doc, each field's matched terms sum to a per-field score
    * s_f (ascending namespaced-term order, the engine-wide rule); the
    * doc's score is s_best + tieBreaker · Σ s_others. Evaluated as ONE
    * fold over all matched contributions in ascending namespaced-term
    * order with weight 1 on the best field's terms and `tieBreaker` on
    * the rest, so tieBreaker = 1 is BIT-identical to the most_fields
    * sum and tieBreaker = 0 to the best field's own sum. Ties on s_f
    * resolve to the field whose terms sort first (`%`-namespaced fields
    * before the un-namespaced main text). Pruning stays sound for
    * tieBreaker ∈ [0, 1]: every weight ≤ 1, so per-term/block bounds
    * over-estimate the weighted contribution.
    */
  final class BestFields(val fieldOf: Map[String, Int], val nFields: Int,
      val tieBreaker: Double,
      /** non-null = dis_max over sub-queries that may SHARE analyzed
        * terms (round-7 review "What's missing #5"): a term belongs to
        * EVERY listed group ordinal, and the executors build ONE
        * scored iterator per (group, term) — each instance carries its
        * ordinal ([[TermIterator.groupOrdinal]]), so a shared term
        * contributes to each containing group's sum independently (ES
        * dis_max scores each sub-query in isolation). Pruning stays
        * sound: every instance carries its FULL ub, so Σ ub over
        * instances ≥ Σ_g s_g ≥ the weighted dis-max score for any
        * tie_breaker ∈ [0, 1]. null = attribution by [[fieldOf]].
        */
      val groupsOf: Map[String, Seq[Int]] = null) extends Serializable {
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tie_breaker must be in [0, 1], got $tieBreaker")
  }

  object BestFields {
    /** Build the term → field-ordinal map for `fields` × `toks`
      * (ordinals in ascending namespaced-prefix order — `%`-fields by
      * name, the main "text" field last, matching global term order).
      */
    def of(fields: Seq[String], toks: Seq[String], tieBreaker: Double): BestFields = {
      val ordered = fields.distinct.sortBy(f =>
        if (f == "text") "\uffff" else graft.index.FieldTerms.textTerm(f, ""))
      val ordOf = ordered.zipWithIndex.toMap
      val m = for (f <- ordered; t <- toks.distinct)
        yield graft.index.FieldTerms.textTerm(f, t) -> ordOf(f)
      new BestFields(m.toMap, ordered.size, tieBreaker)
    }
  }

  /** The top-k collector of both executors: a binary heap over parallel
    * score / docId arrays ordered by [[Scored.Ranking]], so its head is
    * the WORST entry — lowest score, then LARGEST docId (ties rank by
    * docId asc, so the largest docId is the weakest). Docs must be
    * offered in ascending docId order, so an equal score never displaces
    * a held doc; a better doc replaces the head in place (one sift-down,
    * no allocation). The arrays grow by doubling up to k. Non-null
    * `after` (ES `search_after`) admits only docs ranked strictly after
    * it.
    */
  private final class TopK(k: Int, after: Scored) {
    private var scores = new Array[Double](math.min(k, 16))
    private var docs = new Array[Long](scores.length)
    private var size = 0
    /** The k-th best score once k docs are held, else −∞. */
    var theta = Double.NegativeInfinity
    def full: Boolean = size == k
    /** Does (s1, d1) rank below (s2, d2) under [[Scored.Ranking]]? */
    private def below(s1: Double, d1: Long, s2: Double, d2: Long): Boolean = {
      val c = java.lang.Double.compare(s1, s2)
      c < 0 || (c == 0 && d1 > d2)
    }
    def offer(score: Double, docId: Long): Unit = {
      if (after != null &&
        !(score < after.score || (score == after.score && docId > after.docId))) return
      if (size < k) {
        if (size == scores.length) {
          val cap = math.min(k.toLong, 2L * size).toInt
          scores = java.util.Arrays.copyOf(scores, cap)
          docs = java.util.Arrays.copyOf(docs, cap)
        }
        var i = size
        size += 1
        while (i > 0 && below(score, docId, scores((i - 1) >>> 1), docs((i - 1) >>> 1))) {
          val p = (i - 1) >>> 1
          scores(i) = scores(p); docs(i) = docs(p); i = p
        }
        scores(i) = score; docs(i) = docId
        if (size == k) theta = scores(0)
      } else if (score > scores(0)) {
        var i = 0
        var sifting = true
        while (sifting) {
          val l = 2 * i + 1
          val c = if (l + 1 < size && below(scores(l + 1), docs(l + 1), scores(l), docs(l))) l + 1 else l
          if (c < size && below(scores(c), docs(c), score, docId)) {
            scores(i) = scores(c); docs(i) = docs(c); i = c
          } else sifting = false
        }
        scores(i) = score; docs(i) = docId
        theta = scores(0)
      }
    }
    /** The held docs, best first. */
    def ranked: Array[Scored] = Array.tabulate(size)(i => Scored(docs(i), scores(i))).sorted(Scored.Ranking)
  }

  /** Align `filters` at `doc`: returns `doc` if every filter list
    * contains it, else a docId ≥ the first position where all filters
    * COULD align again (the max of their curDocs) — the caller skips its
    * scored cursors there. Filters are membership-only (ES bool `filter`
    * context): they never contribute score, so they play no part in
    * upper-bound pruning — they only veto candidates.
    */
  private def filtersAlignAt(filters: Array[DocCursor], doc: Long): Long = {
    var next = doc
    var i = 0
    while (i < filters.length) {
      filters(i).nextGEQ(doc)
      val c = filters(i).curDoc
      if (c > next) next = c
      i += 1
    }
    next
  }

  /** Is `doc` present in any exclusion list (ES bool `must_not`)? */
  private def excludedAt(excludes: Array[DocCursor], doc: Long): Boolean = {
    var i = 0
    while (i < excludes.length) {
      excludes(i).nextGEQ(doc)
      if (excludes(i).curDoc == doc) return true
      i += 1
    }
    false
  }

  /** Disjunctive (OR) BM25 top-k — the ES `match` query shape (SURVEY.md
    * J3/T1), run as block-max MaxScore (Turtle & Flood 1995, the way
    * Lucene runs top-level disjunctions). `lists` must be keyed by
    * distinct terms — EXCEPT shared-term dis_max instances
    * ([[BestFields.groupsOf]]): one iterator per (group, term) is valid
    * because each instance scores and bounds independently (two cursors
    * on one posting list behave like two terms with identical postings).
    * `filters` are required-but-unscored lists (ES bool `filter` context
    * — typically fielded keyword terms like `#role:user`); `excludes`
    * veto their docs (`must_not`). Both only REMOVE candidates.
    *
    * `shoulds` are OPTIONAL scoring lists (ES bool `should` context,
    * term-disjoint from `lists`): a matched should term adds its BM25
    * contribution but is never required — except that a qualifying doc
    * must match ≥ `minShould` of them (`minimum_should_match`). `lists`
    * is the required group: when non-empty a doc must match ≥ 1 of it
    * (the ES `match`-in-`must` shape); when empty, shoulds alone drive
    * the query (pure m-of-n). The group-count rules only REMOVE
    * candidates, so both groups take part in the bounds below.
    *
    * MaxScore: the scored lists (both groups) are ordered by `ub`
    * ascending with prefix sums cum(i) = ub(0) + … + ub(i). With θ the
    * k-th best score held, the lists 0..e−1 whose cum(e−1) + Margin ≤ θ
    * are NON-ESSENTIAL: a doc found only in them scores at most
    * cum(e−1) and cannot enter the top-k (an entering doc must beat θ —
    * an equal score loses the docId tie-break, docs come in docId
    * order). So candidates are the smallest `curDoc` over the ESSENTIAL
    * lists e..n−1 only, and e only grows as θ rises. A candidate is
    * vetoed by the filters and excludes, scored on the essential lists
    * sitting on it, then the non-essential lists are probed (nextGEQ)
    * from the highest ub down, stopping as soon as the partial sum plus
    * the remaining lists' block maxima (each list shallow-seeked to the
    * candidate's block, no decode) + Margin ≤ θ. No per-step cursor
    * sort: the essential set is a suffix of one fixed order.
    *
    * Results are bit-identical to the exhaustive oracle: pruning only
    * drops docs that cannot beat θ (bounds are sums of per-list upper
    * bounds, Margin absorbs the summation-order rounding), and a doc
    * that survives is offered with ONE sum over its matched
    * contributions in ascending TERM order (or the best_fields two-pass
    * fold below), never the probe-order partial.
    *
    * `after` implements ES `search_after` on the (score desc, docId asc)
    * sort key: only docs ranked strictly after it are offered. It cannot
    * seed θ (qualifying docs score ≤ after.score by definition), so it
    * prunes nothing — it guarantees exact page continuation.
    */
  def topK(lists: Seq[TermIterator], k: Int,
      filters: Seq[DocCursor] = Nil,
      excludes: Seq[DocCursor] = Nil,
      shoulds: Seq[TermIterator] = Nil,
      minShould: Int = 0,
      after: Scored = null,
      /** non-null = combine per-field sums best_fields-style
        * ([[BestFields]]); null = the plain one-sum (most_fields) rule.
        * OR-mode only.
        */
      bestFields: BestFields = null): Array[Scored] = {
    if ((lists.isEmpty && shoulds.isEmpty) || k <= 0) return Array.empty
    val fArr = filters.toArray
    val eArr = excludes.toArray
    val mustN = lists.size
    val shouldSet = shoulds.map(_.term).toSet
    require(!lists.exists(l => shouldSet.contains(l.term)),
      "must and should term groups must be disjoint")
    // fixed scoring order: term asc over the MERGED groups
    val byTerm = (lists ++ shoulds).sortBy(_.term).toArray
    val isShould = byTerm.map(it => shouldSet.contains(it.term))
    val n = byTerm.length
    // contribution of each list (term order) at the current candidate
    val contrib = new Array[Double](n)
    val bf = bestFields
    // best_fields field ordinal per list. Terms outside the multi_match
    // field map (bool `should` terms riding a best_fields query) get
    // ordinal -1 — a 'no field' bucket whose contributions always carry
    // weight 1.0 (ES adds separate bool clauses at full weight) and never
    // enter any field's dis-max sum.
    val bfFieldIdx: Array[Int] =
      if (bf == null) null
      else byTerm.map(it =>
        // shared-term dis_max instances carry their own group ordinal;
        // everything else resolves through the term-keyed field map
        if (it.groupOrdinal != Int.MinValue) it.groupOrdinal
        else bf.fieldOf.getOrElse(it.term, -1))
    val bfSums: Array[Double] = if (bf == null) null else new Array[Double](bf.nFields)
    val top = new TopK(k, after)

    // MaxScore order: ub ascending; ubCum(i) = Σ ub of lists 0..i
    val ord = Array.range(0, n).sortBy(t => byTerm(t).ub)
    val byUb = ord.map(byTerm)
    val ubCum = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += byUb(i).ub; ubCum(i) = acc; i += 1 }
    // per-candidate block-max prefix sums of the non-essential lists
    val bmCum = new Array[Double](n)
    var firstEss = 0 // byUb(firstEss until n) are the essential lists

    /** Every list sits on or past `doc` (all were probed), so the ones ON
      * it are exactly its matches: apply the group rules and offer the
      * exact score — the sum in ascending term order or, best_fields,
      * pass 1 per-field sums, pass 2 the same global order re-folded
      * with weight 1 on the best field and tieBreaker elsewhere (tb = 1
      * reproduces the most_fields sum bit-exactly).
      */
    def offerFolded(doc: Long): Unit = {
      var nMust = 0
      var nShould = 0
      var s = 0.0
      var t = 0
      if (bf == null) {
        while (t < n) {
          if (byTerm(t).curDoc == doc) {
            s += contrib(t)
            if (isShould(t)) nShould += 1 else nMust += 1
          }
          t += 1
        }
      } else {
        java.util.Arrays.fill(bfSums, 0.0)
        while (t < n) {
          if (byTerm(t).curDoc == doc) {
            if (bfFieldIdx(t) >= 0) bfSums(bfFieldIdx(t)) += contrib(t)
            if (isShould(t)) nShould += 1 else nMust += 1
          }
          t += 1
        }
        var best = 0
        var f = 1
        while (f < bfSums.length) { if (bfSums(f) > bfSums(best)) best = f; f += 1 }
        t = 0
        while (t < n) {
          if (byTerm(t).curDoc == doc) {
            val w = if (bfFieldIdx(t) < 0 || bfFieldIdx(t) == best) 1.0 else bf.tieBreaker
            s += w * contrib(t)
          }
          t += 1
        }
      }
      if ((mustN == 0 || nMust > 0) && nShould >= minShould) top.offer(s, doc)
    }

    var target = Long.MinValue
    var running = true
    while (running) {
      // step every essential list to `target`; the smallest docId they
      // then sit on is the next candidate
      var cand = Long.MaxValue
      i = firstEss
      while (i < n) {
        val it = byUb(i)
        if (it.curDoc < target) it.nextGEQ(target)
        if (it.curDoc < cand) cand = it.curDoc
        i += 1
      }
      if (cand == Long.MaxValue) running = false
      else {
        target = cand + 1
        val fNext = if (fArr.isEmpty) cand else filtersAlignAt(fArr, cand)
        // vetoed: no doc before the filters' next possible doc qualifies
        if (fNext != cand) target = fNext
        else if (!excludedAt(eArr, cand)) {
          var partial = 0.0
          i = firstEss
          while (i < n) {
            val it = byUb(i)
            if (it.curDoc == cand) { val c = it.score; contrib(ord(i)) = c; partial += c }
            i += 1
          }
          // probe the non-essential lists, highest ub first, while the
          // partial sum plus what the rest can add might still beat θ —
          // by their ubs, then by their block maxima at `cand`
          i = firstEss - 1
          if (i >= 0 && partial + ubCum(i) + Margin > top.theta) {
            var bm = 0.0
            var j = 0
            while (j <= i) {
              byUb(j).shallowSeek(cand); bm += byUb(j).blockMax; bmCum(j) = bm; j += 1
            }
            while (i >= 0 && partial + bmCum(i) + Margin > top.theta) {
              val it = byUb(i)
              it.nextGEQ(cand)
              if (it.curDoc == cand) { val c = it.score; contrib(ord(i)) = c; partial += c }
              i -= 1
            }
          }
          if (i < 0) offerFolded(cand)
          while (firstEss < n && ubCum(firstEss) + Margin <= top.theta) firstEss += 1
        }
      }
    }
    top.ranked
  }

  /** Conjunctive (AND) top-k: docs containing ALL terms, BM25-scored —
    * posting-list intersection via nextGEQ galloping (SURVEY.md J2) with
    * block-max early exit once the heap is full (a block span whose
    * Σ blockMax cannot beat θ is skipped without decoding any block).
    */
  def topKConjunctive(lists: Seq[PosCursor], k: Int,
      filters: Seq[DocCursor] = Nil,
      excludes: Seq[DocCursor] = Nil,
      shoulds: Seq[TermIterator] = Nil,
      minShould: Int = 0,
      after: Scored = null): Array[Scored] =
    intersectTopK(lists, k, phrase = null, filters, excludes, shoulds, minShould, after)

  /** Phrase top-k: docs containing the terms at ADJACENT positions in
    * `phrase` order (ES `match_phrase` over analyzed fields — SURVEY.md
    * "What's missing #1", positional postings). Scoring: the standard
    * BM25 sum over the phrase's distinct terms (each term scores once,
    * ascending term order — same rule as the AND path), restricted to
    * docs where the exact phrase occurs. `lists` must carry one iterator
    * per DISTINCT phrase term.
    */
  def topKPhrase(lists: Seq[PosCursor], phrase: Seq[String], k: Int,
      filters: Seq[DocCursor] = Nil,
      excludes: Seq[DocCursor] = Nil,
      shoulds: Seq[TermIterator] = Nil,
      minShould: Int = 0,
      after: Scored = null,
      /** ES `slop` — full Lucene sloppy-phrase semantics (positional
        * moves; reordered terms match from slop ≥ 2); 0 = exact
        * adjacency. See [[PhraseMatch]].
        */
      slop: Int = 0,
      /** ≥ 0 = Lucene `span_first`: the phrase must have an occurrence
        * whose span END (last token's 0-based position + 1) is ≤
        * `spanEnd` — i.e. it starts inside the field's first `spanEnd`
        * tokens. Exact-adjacency only (slop must be 0); −1 = off.
        */
      spanEnd: Int = -1): Array[Scored] = {
    if (phrase == null || phrase.isEmpty) return Array.empty
    require(spanEnd < 0 || slop == 0, "span_first requires slop == 0")
    intersectTopK(lists, k, phrase, filters, excludes, shoulds, minShould, after, slop,
      spanEnd)
  }

  /** Does the phrase occur at the current (aligned) doc within `slop`?
    * slots(j) is the cursor of phrase position j; all slots sit on the
    * same doc. Semantics: the Lucene/ES SLOPPY-PHRASE model — there
    * exist DISTINCT token positions p_0 … p_{m−1}, one per slot, whose
    * offset-ADJUSTED positions q_i = p_i − i satisfy max(q) − min(q) ≤
    * slop (each unit of slop is one positional move; REORDERED terms
    * match from slop ≥ 2 — a transposed bigram has width 2). slop = 0
    * forces all q equal = exact in-order adjacency (`match_phrase`),
    * answered by the O(Σ positions) greedy minimal-chain scan.
    *
    * One instance per query: the slots' position buffers, counts and
    * pointers and the repeated-term groups are set up once, so checking
    * a candidate allocates nothing.
    */
  private final class PhraseMatch(slots: Array[PosCursor], slop: Int,
      /** ≥ 0 = `span_first`: additionally require an occurrence ending
        * at 0-based position < spanEnd (Lucene SpanFirstQuery: span
        * end() ≤ end). Single-term and exact-adjacency phrases only —
        * [[topKPhrase]] rejects slop > 0 with spanEnd.
        */
      spanEnd: Int) {
    private val m = slots.length
    private val bufs = new Array[Array[Int]](m)
    private val lens = new Array[Int](m)
    private val ptr = new Array[Int](m)
    private val hasRepeat = {
      var rep = false
      var i = 0
      while (i < m && !rep) {
        var j = i + 1
        while (j < m && !rep) { rep = slots(i) eq slots(j); j += 1 }
        i += 1
      }
      rep
    }
    /** Repeated phrase terms (sloppy only): one group per distinct
      * cursor — a slot holding it (`groupSlot`) and its ascending slot
      * offsets.
      */
    private lazy val (groupSlot, groupOffs): (Array[Int], Array[Array[Int]]) = {
      val firsts = (0 until m).filter(i => (0 until i).forall(j => !(slots(j) eq slots(i))))
      (firsts.toArray, firsts.map(i => (0 until m).filter(j => slots(j) eq slots(i)).toArray).toArray)
    }

    def matches(): Boolean = {
      var i = 0
      while (i < m) { lens(i) = slots(i).positions(); bufs(i) = slots(i).posBuf; i += 1 }
      if (m == 1)
        // positions are ascending: the FIRST occurrence decides span_first
        lens(0) > 0 && (spanEnd < 0 || bufs(0)(0) + 1 <= spanEnd)
      else if (slop == 0) {
        // adjacency chain from start st spans [st, st + m) — end = st + m
        val st = adjacentAt()
        st >= 0 && (spanEnd < 0 || st + m <= spanEnd)
      } else if (!hasRepeat) sloppyDistinct()
      else sloppyRepeats()
    }

    /** Exact in-order adjacency (slop = 0): greedy minimal chain — for
      * each start in slot 0, extend each later slot to its minimal
      * position past the previous; pointers only move forward across
      * starts, O(Σ positions) total. Returns the EARLIEST matching start
      * position (starts ascend, so it is also the minimal-end chain —
      * what `span_first` needs), or −1 when the phrase does not occur.
      */
    private def adjacentAt(): Int = {
      java.util.Arrays.fill(ptr, 0)
      var s = 0
      while (s < lens(0)) {
        val start = bufs(0)(s)
        var prev = start
        var j = 1
        while (j < m) {
          val pj = bufs(j)
          while (ptr(j) < lens(j) && pj(ptr(j)) <= prev) ptr(j) += 1
          if (ptr(j) >= lens(j)) return -1 // exhausted: no later start can match
          prev = pj(ptr(j))
          j += 1
        }
        if (prev - start == m - 1) return start
        s += 1
      }
      -1
    }

    /** Sloppy match, all slots DISTINCT terms: the classic k-list
      * minimal range scan over the adjusted position lists — hold one
      * pointer per list, test the current window, advance the list
      * holding the minimum. Finds the minimal achievable width
      * (positions across different terms are distinct by construction),
      * O(Σ positions · m).
      */
    private def sloppyDistinct(): Boolean = {
      java.util.Arrays.fill(ptr, 0)
      while (true) {
        var mn = Int.MaxValue
        var mx = Int.MinValue
        var mnI = 0
        var i = 0
        while (i < m) {
          val v = bufs(i)(ptr(i)) - i
          if (v < mn) { mn = v; mnI = i }
          if (v > mx) mx = v
          i += 1
        }
        if (mx - mn <= slop) return true
        ptr(mnI) += 1
        if (ptr(mnI) >= lens(mnI)) return false
      }
      false
    }

    /** Sloppy match with REPEATED phrase terms (rare): distinctness of
      * the chosen positions inside a repeated term's slot group matters.
      * Try every candidate window origin w = p − slot offset; within
      * [w, w + slop] each term group's constraint is a staircase of
      * intervals [w+o, w+slop+o] over ascending offsets o, for which the
      * ascending greedy assignment (smallest unused feasible position per
      * offset) is exact. O(candidates × Σ positions).
      */
    private def sloppyRepeats(): Boolean = {
      var i = 0
      while (i < m) {
        var j = 0
        while (j < lens(i)) { if (fitsAt(bufs(i)(j) - i)) return true; j += 1 }
        i += 1
      }
      false
    }

    /** Can every term group place its offsets inside the window at `w`? */
    private def fitsAt(w: Int): Boolean = {
      var g = 0
      while (g < groupSlot.length) {
        val ps = bufs(groupSlot(g))
        val n = lens(groupSlot(g))
        val offs = groupOffs(g)
        var pi = 0
        var o = 0
        while (o < offs.length) {
          while (pi < n && ps(pi) < w + offs(o)) pi += 1
          if (pi < n && ps(pi) <= w + slop + offs(o)) pi += 1 else return false
          o += 1
        }
        g += 1
      }
      true
    }
  }

  private def maxCurDoc(cs: Array[PosCursor]): Long = {
    var mx = Long.MinValue
    var i = 0
    while (i < cs.length) { mx = math.max(mx, cs(i).curDoc); i += 1 }
    mx
  }

  private def intersectTopK(
      lists: Seq[PosCursor],
      k: Int,
      phrase: Seq[String],
      filters: Seq[DocCursor] = Nil,
      excludes: Seq[DocCursor] = Nil,
      shoulds: Seq[TermIterator] = Nil,
      minShould: Int = 0,
      after: Scored = null,
      slop: Int = 0,
      spanEnd: Int = -1
  ): Array[Scored] = {
    if (lists.isEmpty || k <= 0) return Array.empty
    val fArr = filters.toArray
    val eArr = excludes.toArray
    val byTerm = lists.sortBy(_.term).toArray
    val shouldArr = shoulds.sortBy(_.term).toArray
    require(!shouldArr.exists(s => byTerm.exists(_.term == s.term)),
      "must and should term groups must be disjoint")
    // optional-group score headroom for the early-exit bound (Σ global
    // ubs — sound; shoulds never drive the candidate loop)
    val shouldUbSum = shouldArr.map(_.ub).sum
    // scoring order: term asc over the MERGED groups (same determinism
    // rule as topK); merged(i) aligned-at-candidate ⇒ contributes
    val merged = (byTerm ++ shouldArr).sortBy(_.term)
    val phraseMatch: PhraseMatch =
      if (phrase == null) null
      else {
        val m = byTerm.map(it => it.term -> it).toMap
        require(phrase.forall(m.contains), "phrase terms must each have an iterator")
        new PhraseMatch(phrase.map(m).toArray, slop, spanEnd)
      }
    val top = new TopK(k, after)
    var candidate = maxCurDoc(byTerm)
    while (candidate != Long.MaxValue) {
      var skipped = false
      if (top.full) {
        // block-max early exit: bound the best score reachable inside the
        // current block span WITHOUT decoding (shallowSeek moves block
        // pointers only); if it can't beat θ, jump past the nearest block
        // horizon. (Sound under search_after too: θ is the k-th best
        // QUALIFYING score, and skipping docs that cannot beat θ never
        // removes a page member.)
        var i = 0
        var blockSum = shouldUbSum
        var horizon = Long.MaxValue
        var dead = false
        while (i < byTerm.length && !dead) {
          byTerm(i).shallowSeek(candidate)
          if (byTerm(i).exhausted) dead = true
          else {
            blockSum += byTerm(i).blockMax
            horizon = math.min(horizon, byTerm(i).blockLast)
            i += 1
          }
        }
        if (dead) { candidate = Long.MaxValue; skipped = true }
        else if (blockSum + Margin <= top.theta) {
          candidate = math.max(candidate + 1, horizon + 1)
          skipped = true
        }
      }
      if (!skipped) {
        var aligned = true
        var i = 0
        while (i < byTerm.length && aligned) {
          byTerm(i).nextGEQ(candidate)
          if (byTerm(i).curDoc != candidate) { candidate = byTerm(i).curDoc; aligned = false }
          i += 1
        }
        if (aligned && candidate != Long.MaxValue && fArr.nonEmpty) {
          // required-but-unscored filter lists must also contain the doc
          val fNext = filtersAlignAt(fArr, candidate)
          if (fNext != candidate) { candidate = fNext; aligned = false }
        }
        if (aligned && candidate != Long.MaxValue) {
          if (!excludedAt(eArr, candidate) &&
            (phraseMatch == null || phraseMatch.matches())) {
            // advance shoulds to the candidate and count matches
            var nShould = 0
            var j = 0
            while (j < shouldArr.length) {
              shouldArr(j).nextGEQ(candidate)
              if (shouldArr(j).curDoc == candidate) nShould += 1
              j += 1
            }
            if (nShould >= minShould) {
              // must lists are all aligned here; shoulds contribute only
              // when aligned (checked via curDoc) — one term-asc sum
              var s = 0.0
              var t = 0
              while (t < merged.length) {
                if (merged(t).curDoc == candidate) s += merged(t).score
                t += 1
              }
              top.offer(s, candidate)
            }
          }
          val next = candidate + 1
          var j = 0
          while (j < byTerm.length) { byTerm(j).nextGEQ(next); j += 1 }
          candidate = maxCurDoc(byTerm)
        }
      }
    }
    top.ranked
  }
}
