package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Codec, GraftHash}
import graft.model.{PostingBlock, Scored}
import graft.query.{Bm25, Wand}

/** Pure-Scala property test: block-max WAND top-k ≡ exhaustive scoring,
  * on randomized (seeded) synthetic posting sets — rank AND score
  * identity (SURVEY.md §5.2.2). Corpora are token SEQUENCES so positional
  * postings and phrase adjacency are exercised end-to-end.
  */
class WandSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(42)

  /** Tiny corpus: each doc is an ordered token sequence. */
  private def randomCorpus(nDocs: Int, vocab: Int): Array[Array[String]] =
    Array.fill(nDocs)(Array.fill(1 + rnd.nextInt(30))("t" + rnd.nextInt(vocab)))

  /** Skewed corpus: "all" in every doc, low-idf head terms h0..h2 in
    * most docs (tf 1-3), mid terms t0..t11, and rare terms r0..r3 in
    * ~2% of docs. With a query over all three kinds, θ soon passes the
    * bounds of "all" and the heads, so the essential set of the
    * disjunctive executor shrinks while the query runs.
    */
  private def skewedCorpus(nDocs: Int): Array[Array[String]] =
    Array.fill(nDocs) {
      val body = Seq.fill(2 + rnd.nextInt(20))("t" + rnd.nextInt(12))
      val heads = (0 until 3).filter(h => rnd.nextInt(10) < 8 - 2 * h)
        .flatMap(h => Seq.fill(1 + rnd.nextInt(3))("h" + h))
      val rare = (0 until 4).filter(_ => rnd.nextInt(50) == 0).map("r" + _)
      rnd.shuffle(body ++ heads ++ rare :+ "all").toArray
    }

  /** A query over the skewed vocabulary: "all", heads, a mid and rares. */
  private def skewedQuery(): Seq[String] =
    (Seq("all") ++ Seq("h0", "h1", "h2").filter(_ => rnd.nextBoolean()) ++
      Seq("t" + rnd.nextInt(12)) ++ Seq("r0", "r1", "r2", "r3").filter(_ => rnd.nextInt(3) > 0))
      .distinct.sorted

  /** The (k, block size) grid every skewed case runs over. */
  private val skewGrid = for (k <- Seq(1, 10, 100); bs <- Seq(4, 16, 128)) yield (k, bs)

  private def tfOf(doc: Array[String]): Map[String, Int] =
    doc.groupBy(identity).map { case (t, xs) => t -> xs.length }

  /** A cursor over compressed `blocks` (any order) as both query paths
    * read them: put in cursor order and decoded once into a list scored
    * under (df, n, avgdl).
    */
  private def compressedIter(t: String, blocks: Array[PostingBlock], ub: Double, df: Long,
      n: Long, avgdl: Double, boost: Double = 1.0,
      groupOrdinal: Int = Int.MinValue): Wand.TermIterator =
    new Wand.TermIterator(t, Wand.PostingList.decoded(Wand.inBlockOrder(blocks),
      Bm25.idf(df, n), avgdl), ub, boost, groupOrdinal)

  /** Engine-side iterators for the query terms over the corpus. */
  private def buildIters(
      corpus: Array[Array[String]],
      terms: Seq[String],
      blockSize: Int,
      /** dis_max group ordinal stamped on every built iterator
        * (shared-term instances); MinValue = unset.
        */
      groupOrdinal: Int = Int.MinValue
  ): (Seq[Wand.TermIterator], Map[String, Long], Long, Double) = {
    val tfs = corpus.map(tfOf)
    val dls = corpus.map(_.length)
    val n = corpus.length.toLong
    val avgdl = dls.sum.toDouble / corpus.length
    val df: Map[String, Long] =
      tfs.flatMap(_.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val iters = terms.filter(df.contains).zipWithIndex.map { case (t, tid) =>
      val postings = corpus.indices.filter(d => tfs(d).contains(t))
      val ids = postings.map(_.toLong).toArray
      val tf = postings.map(d => tfs(d)(t)).toArray
      val ds = postings.map(dls(_)).toArray
      val scores = postings.indices.map(i => Bm25.score(tf(i), df(t), ds(i), n, avgdl)).toArray
      val poss = postings.map { d =>
        Codec.encodePositions(corpus(d).indices.filter(i => corpus(d)(i) == t).toArray)
      }.toArray
      val blocks: Array[PostingBlock] =
        Codec.encodeBlocks(tid.toLong, GraftHash.shardOf(t, 8), 0, ids, tf, ds, scores,
          poss, blockSize).toArray
      val ub = if (scores.isEmpty) 0.0 else scores.max
      compressedIter(t, blocks, ub, df(t), n, avgdl, groupOrdinal = groupOrdinal)
    }
    (iters, df, n, avgdl)
  }

  private def bruteScore(
      corpus: Array[Array[String]],
      terms: Seq[String],
      k: Int,
      conjunctive: Boolean,
      phrase: Seq[String] = null
  ): Seq[Scored] = {
    val tfs = corpus.map(tfOf)
    val dls = corpus.map(_.length)
    val n = corpus.length.toLong
    val avgdl = dls.sum.toDouble / corpus.length
    val df: Map[String, Long] =
      tfs.flatMap(_.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val qt = terms.distinct.sorted.filter(df.contains)
    corpus.indices.flatMap { d =>
      val present = qt.filter(tfs(d).contains)
      val phraseOk = phrase == null ||
        corpus(d).sliding(phrase.length).exists(_.toSeq == phrase)
      if (present.isEmpty || ((conjunctive || phrase != null) && present.size != qt.size) ||
        !phraseOk) None
      else {
        var s = 0.0
        present.foreach(t => s += Bm25.score(tfs(d)(t), df(t), dls(d), n, avgdl))
        Some(Scored(d.toLong, s))
      }
    }.sortBy(s => (-s.score, s.docId)).take(k)
  }

  private def check(nDocs: Int, vocab: Int, qTerms: Seq[String], k: Int, blockSize: Int,
      conjunctive: Boolean = false): Unit =
    checkOn(randomCorpus(nDocs, vocab), qTerms, k, blockSize, conjunctive)

  private def checkOn(corpus: Array[Array[String]], qTerms: Seq[String], k: Int,
      blockSize: Int, conjunctive: Boolean = false): Unit = {
    // unit-level semantics: OOV terms are dropped before the executor
    // (the engine-level AND empty-on-missing rule lives in Searcher)
    val terms = qTerms.distinct.sorted
    val (iters, _, _, _) = buildIters(corpus, terms, blockSize)
    val brute = bruteScore(corpus, terms, k, conjunctive)
    val got =
      if (conjunctive) Wand.topKConjunctive(iters, k) else Wand.topK(iters, k)
    assert(got.toSeq == brute,
      s"WAND mismatch: terms=$terms k=$k conj=$conjunctive\n got=${got.toSeq}\n want=$brute")
  }

  test("WAND top-k ≡ exhaustive on 200 random cases") {
    for (i <- 1 to 200) {
      val vocab = 3 + rnd.nextInt(30)
      val nDocs = 10 + rnd.nextInt(500)
      val nq = 1 + rnd.nextInt(4)
      val q = Seq.fill(nq)("t" + rnd.nextInt(vocab))
      val k = 1 + rnd.nextInt(20)
      val blockSize = Seq(4, 16, 128)(i % 3)
      check(nDocs, vocab, q, k, blockSize)
    }
    for ((k, bs) <- skewGrid; _ <- 1 to 3) checkOn(skewedCorpus(1500), skewedQuery(), k, bs)
  }

  test("best_fields combination ≡ exhaustive weighted fold; tb=1 ≡ most_fields bit-exact") {
    // the Wand layer takes an arbitrary term → field-ordinal map; the
    // brute replicates the EXACT evaluation rule (per-field sums fold
    // ascending, best field by strict > in ordinal order, then one
    // global ascending weighted fold) so equality is bit-for-bit
    def bruteBest(corpus: Array[Array[String]], terms: Seq[String],
        fieldOf: Map[String, Int], nFields: Int, tb: Double, k: Int): Seq[Scored] = {
      val tfs = corpus.map(tfOf)
      val dls = corpus.map(_.length)
      val n = corpus.length.toLong
      val avgdl = dls.sum.toDouble / corpus.length
      val df: Map[String, Long] =
        tfs.flatMap(_.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val qt = terms.distinct.sorted.filter(df.contains)
      corpus.indices.flatMap { d =>
        val present = qt.filter(tfs(d).contains)
        if (present.isEmpty) None
        else {
          val sums = new Array[Double](nFields)
          present.foreach(t =>
            sums(fieldOf(t)) += Bm25.score(tfs(d)(t), df(t), dls(d), n, avgdl))
          var best = 0
          for (f <- 1 until nFields) if (sums(f) > sums(best)) best = f
          var s = 0.0
          present.foreach { t =>
            val w = if (fieldOf(t) == best) 1.0 else tb
            s += w * Bm25.score(tfs(d)(t), df(t), dls(d), n, avgdl)
          }
          Some(Scored(d.toLong, s))
        }
      }.sortBy(s => (-s.score, s.docId)).take(k)
    }
    def run(i: Int, corpus: Array[Array[String]], q: Seq[String], k: Int, bs: Int): Unit = {
      val nFields = 2 + rnd.nextInt(2)
      val fieldOf = q.map(t => t -> rnd.nextInt(nFields)).toMap
      val tb = Seq(0.0, 0.3, 1.0)(i % 3)
      val (iters, _, _, _) = buildIters(corpus, q, bs)
      val bf = new Wand.BestFields(fieldOf, nFields, tb)
      val got = Wand.topK(iters, k, bestFields = bf).toSeq
      val want = bruteBest(corpus, q, fieldOf, nFields, tb, k)
      assert(got == want, s"case $i tb=$tb q=$q fieldOf=$fieldOf")
      if (tb == 1.0) {
        // tb = 1 must reproduce the plain one-sum (most_fields) result
        // bit-exactly (fresh iterators — cursors are mutable)
        val (iters2, _, _, _) = buildIters(corpus, q, bs)
        assert(Wand.topK(iters2, k).toSeq == got, s"tb=1 ≠ most_fields, case $i")
      }
    }
    for (i <- 1 to 100) {
      val vocab = 3 + rnd.nextInt(20)
      val corpus = randomCorpus(10 + rnd.nextInt(300), vocab)
      val q = Seq.fill(2 + rnd.nextInt(4))("t" + rnd.nextInt(vocab)).distinct.sorted
      run(i, corpus, q, 1 + rnd.nextInt(15), Seq(4, 16, 128)(i % 3))
    }
    for (((k, bs), i) <- skewGrid.zipWithIndex; j <- 0 until 3)
      run(i + j, skewedCorpus(1000), skewedQuery(), k, bs)
  }

  test("dis_max with SHARED terms ≡ exhaustive per-group fold on 120 random cases (round-8)") {
    // ES dis_max scores each sub-query INDEPENDENTLY, so a term in two
    // groups contributes to both sums — the executor gets one iterator
    // per (group, term), each stamped with its ordinal. The brute
    // replicates the exact evaluation rule: per-group sums accumulate
    // in ascending term order, best group by strict > in ordinal
    // order, final fold over (term asc, group asc) instances weighted
    // (1 best / tb others) — equality is bit-for-bit.
    def bruteShared(corpus: Array[Array[String]], groups: Seq[Seq[String]],
        tb: Double, k: Int): Seq[Scored] = {
      val tfs = corpus.map(tfOf)
      val dls = corpus.map(_.length)
      val n = corpus.length.toLong
      val avgdl = dls.sum.toDouble / corpus.length
      val df: Map[String, Long] =
        tfs.flatMap(_.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      corpus.indices.flatMap { d =>
        val inst = for {
          (g, gi) <- groups.zipWithIndex
          t <- g.distinct.sorted if df.contains(t) && tfs(d).contains(t)
        } yield (t, gi)
        if (inst.isEmpty) None
        else {
          def sc(t: String) = Bm25.score(tfs(d)(t), df(t), dls(d), n, avgdl)
          val sums = new Array[Double](groups.size)
          inst.foreach { case (t, gi) => sums(gi) += sc(t) }
          var best = 0
          for (f <- 1 until sums.length) if (sums(f) > sums(best)) best = f
          var s = 0.0
          inst.sortBy { case (t, gi) => (t, gi) }.foreach { case (t, gi) =>
            s += (if (gi == best) 1.0 else tb) * sc(t)
          }
          Some(Scored(d.toLong, s))
        }
      }.sortBy(s => (-s.score, s.docId)).take(k)
    }
    def run(i: Int, corpus: Array[Array[String]], groups: Seq[Seq[String]], k: Int,
        bs: Int): Unit = {
      val tb = Seq(0.0, 0.3, 1.0)(i % 3)
      val iters = groups.zipWithIndex.flatMap { case (g, gi) =>
        buildIters(corpus, g, bs, groupOrdinal = gi)._1
      }
      val groupsOf = groups.zipWithIndex.flatMap { case (ts, gi) => ts.map(_ -> gi) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val bf = new Wand.BestFields(Map.empty, groups.size, tb, groupsOf)
      val got = Wand.topK(iters, k, bestFields = bf).toSeq
      val want = bruteShared(corpus, groups, tb, k)
      assert(got == want, s"case $i tb=$tb groups=$groups\n got=$got\n want=$want")
    }
    for (i <- 1 to 120) {
      val vocab = 3 + rnd.nextInt(15)
      val corpus = randomCorpus(10 + rnd.nextInt(300), vocab)
      val nGroups = 2 + rnd.nextInt(2)
      // overlap by construction: a shared pool most groups draw from
      val pool = Seq.fill(4)("t" + rnd.nextInt(vocab)).distinct
      val groups = Seq.fill(nGroups)(
        (Seq.fill(1 + rnd.nextInt(2))("t" + rnd.nextInt(vocab)) ++
          Seq(pool(rnd.nextInt(pool.size)))).distinct.sorted)
      run(i, corpus, groups, 1 + rnd.nextInt(15), Seq(4, 16, 128)(i % 3))
    }
    // skewed: groups share "all" or a head term, rare terms in some
    for (((k, bs), i) <- skewGrid.zipWithIndex; j <- 0 until 3) {
      val q = skewedQuery()
      val groups = Seq.fill(2 + rnd.nextInt(2))(
        (Seq(Seq("all", "h0", "h1")(rnd.nextInt(3))) ++ q.filter(_ => rnd.nextBoolean()))
          .distinct.sorted)
      run(i + j, skewedCorpus(1000), groups, k, bs)
    }
  }

  test("conjunctive top-k ≡ exhaustive on 100 random cases") {
    for (i <- 1 to 100) {
      val vocab = 3 + rnd.nextInt(10)
      val nDocs = 10 + rnd.nextInt(400)
      val q = Seq.fill(1 + rnd.nextInt(3))("t" + rnd.nextInt(vocab))
      check(nDocs, vocab, q, 1 + rnd.nextInt(15), Seq(4, 16, 128)(i % 3), conjunctive = true)
    }
  }

  test("phrase top-k ≡ exhaustive on 150 random cases (incl. repeated terms)") {
    for (i <- 1 to 150) {
      val vocab = 2 + rnd.nextInt(8) // small vocab → real phrase collisions
      val nDocs = 10 + rnd.nextInt(300)
      val corpus = randomCorpus(nDocs, vocab)
      // sample a phrase that EXISTS somewhere half the time, random otherwise
      val len = 2 + rnd.nextInt(3)
      val phrase: Seq[String] =
        if (i % 2 == 0) {
          val d = corpus(rnd.nextInt(nDocs))
          if (d.length >= len) { val s = rnd.nextInt(d.length - len + 1); d.slice(s, s + len).toSeq }
          else Seq.fill(len)("t" + rnd.nextInt(vocab))
        } else Seq.fill(len)("t" + rnd.nextInt(vocab))
      val terms = phrase.distinct.sorted
      val (iters, df, _, _) = buildIters(corpus, terms, Seq(4, 16, 128)(i % 3))
      val brute = bruteScore(corpus, terms, 10, conjunctive = true, phrase = phrase)
      val got =
        if (terms.exists(t => !df.contains(t))) Array.empty[Scored]
        else Wand.topKPhrase(iters, phrase, 10)
      assert(got.toSeq == brute, s"phrase mismatch: phrase=$phrase\n got=${got.toSeq}\n want=$brute")
    }
  }

  test("match_phrase_prefix: union last slot ≡ exhaustive on 150 random cases (slop 0..2)") {
    val PrefixSlot = "prefix"
    var ran = 0
    var it = 0
    while (ran < 150) {
      it += 1
      val vocab = 4 + rnd.nextInt(20)
      val nDocs = 10 + rnd.nextInt(300)
      val corpus = randomCorpus(nDocs, vocab)
      val dfAll = corpus.flatMap(_.distinct).groupBy(identity).map { case (t, xs) => t -> xs.size }
      val m = rnd.nextInt(3) // fixed slots (0 = pure prefix)
      val fixed = Seq.fill(m)("t" + rnd.nextInt(vocab))
      val p = "t" + rnd.nextInt(10)
      val expansions = dfAll.keys.filter(_.startsWith(p)).toSeq.sorted
      val slop = rnd.nextInt(3)
      // keep: expansions present, all fixed terms present, and under
      // slop > 0 expansions disjoint from fixed (the documented caveat)
      val ok = expansions.nonEmpty && fixed.forall(dfAll.contains) &&
        (slop == 0 || !fixed.exists(expansions.contains))
      if (ok) {
        ran += 1
        val blockSize = Seq(4, 16, 128)(it % 3)
        val fixedKept = fixed.distinct.sorted
        val (fixedIters, _, _, _) = buildIters(corpus, fixedKept, blockSize)
        val (memberIters, _, _, _) = buildIters(corpus, expansions, blockSize)
        val union = new Wand.UnionPosIterator(PrefixSlot, memberIters.toArray)
        val slots = fixed :+ PrefixSlot
        val k = 1 + rnd.nextInt(15)
        val got = Wand.topKPhrase(fixedIters :+ union, slots, k, slop = slop)
        // brute: DFS over DISTINCT token positions, last slot = ANY
        // expansion; score = BM25 sum over the distinct FIXED terms
        val expSet = expansions.toSet
        def matches(doc: Array[String]): Boolean = {
          val slotTerms: Seq[Set[String]] = fixed.map(Set(_)) :+ expSet
          def go(slot: Int, used: Set[Int], mn: Int, mx: Int): Boolean = {
            if (mx - mn > slop) false
            else if (slot == slotTerms.length) true
            else doc.indices.exists { i =>
              !used.contains(i) && slotTerms(slot).contains(doc(i)) && {
                val q = i - slot
                go(slot + 1, used + i, math.min(mn, q), math.max(mx, q))
              }
            }
          }
          def go0 = doc.indices.exists { i =>
            slotTerms.head.contains(doc(i)) && go(1, Set(i), i, i)
          }
          go0
        }
        val tfs = corpus.map(tfOf)
        val dls = corpus.map(_.length)
        val n = corpus.length.toLong
        val avgdl = dls.sum.toDouble / corpus.length
        val want = corpus.indices.flatMap { d =>
          if (!fixedKept.forall(tfs(d).contains) || !matches(corpus(d))) None
          else {
            var s = 0.0
            fixedKept.foreach(t => s += Bm25.score(tfs(d)(t), dfAll(t).toLong, dls(d), n, avgdl))
            Some(Scored(d.toLong, s))
          }
        }.sortBy(s => (-s.score, s.docId)).take(k)
        assert(got.toSeq == want,
          s"mpp mismatch: fixed=$fixed p=$p slop=$slop k=$k\n got=${got.toSeq}\n want=$want")
      }
    }
  }

  test("conjunctive block-max pruning decodes fewer blocks, identical results") {
    // skewed corpus: one rare high-tf term + one hot low-signal term; with
    // k=1 the heap fills early and whole block spans of the hot term fall
    // under θ. Pruning must not change results (checked against brute) and
    // must demonstrably skip decodes vs total block count.
    val vocab = 6
    val corpus = Array.tabulate(4000) { d =>
      val base = Array.fill(8)("t" + rnd.nextInt(vocab))
      if (d % 2 == 0) base :+ "hot" else base // hot in every 2nd doc
    } ++ Array(Array("hot", "rare", "rare", "rare", "rare"))
    val terms = Seq("hot", "rare")
    val (iters, _, _, _) = buildIters(corpus, terms, 16)
    val got = Wand.topKConjunctive(iters, 1)
    val brute = bruteScore(corpus, terms, 1, conjunctive = true)
    assert(got.toSeq == brute)
    val decoded = iters.map(_.decodes).sum
    val totalBlocks = 2001 / 16 + 2 // hot blocks + rare's single block
    assert(decoded < totalBlocks / 2,
      s"pruning ineffective: decoded $decoded of ~$totalBlocks blocks")
  }

  test("empty and missing-term queries") {
    check(50, 5, Seq("zzz-not-present"), 10, 16)
    check(50, 5, Seq.empty, 10, 16)
  }

  /** Unscored posting list over an explicit doc set (a fielded keyword
    * term, tf=1/doc) — what `IndexConfig.fieldCols` stores.
    */
  private def fieldIter(name: String, docIds: Seq[Int], blockSize: Int,
      n: Long, avgdl: Double): Wand.TermIterator = {
    val ids = docIds.map(_.toLong).toArray
    val ones = Array.fill(docIds.length)(1)
    val blocks = Codec.encodeBlocks(9999L, 0, 0, ids, ones, ones,
      Array.fill(docIds.length)(0.0), ids.map(_ => Array.emptyByteArray), blockSize).toArray
    compressedIter(name, blocks, 0.0, docIds.length.toLong, n, avgdl)
  }

  test("filtered WAND (bool filter/must_not) ≡ exhaustive on 150 random cases incl. phrase") {
    def run(corpus: Array[Array[String]], terms: Seq[String], phrase: Seq[String], k: Int,
        blockSize: Int, conj: Boolean, useF: Boolean, useE: Boolean): Unit = {
      val nDocs = corpus.length
      val usePhrase = phrase != null
      // synthetic keyword field: doc's value = docId mod m
      val m = 2 + rnd.nextInt(3)
      val fv = rnd.nextInt(m)
      val ev = rnd.nextInt(m)
      val inFilter = (0 until nDocs).filter(_ % m == fv)
      val inExclude = (0 until nDocs).filter(_ % m == ev)
      val (iters, df, n, avgdl) = buildIters(corpus, terms, blockSize)
      val filters = Seq(fieldIter("#f:" + fv, inFilter, blockSize, n, avgdl))
      val excludes = Seq(fieldIter("#f:" + ev, inExclude, blockSize, n, avgdl))
      val brute = bruteScore(corpus, terms, nDocs, conj || usePhrase, phrase = phrase)
        .filter(s => !useF || s.docId % m == fv)
        .filter(s => !useE || s.docId % m != ev)
        .take(k)
      val qt = terms.filter(df.contains)
      val fs: Seq[Wand.DocCursor] = if (useF) filters else Nil
      val es: Seq[Wand.DocCursor] = if (useE) excludes else Nil
      val got =
        if ((conj || usePhrase) && qt.size < terms.size) Array.empty[Scored]
        else if (usePhrase) Wand.topKPhrase(iters, phrase, k, fs, es)
        else if (conj) Wand.topKConjunctive(iters, k, fs, es)
        else Wand.topK(iters, k, fs, es)
      assert(got.toSeq == brute,
        s"filtered mismatch: terms=$terms phrase=$phrase m=$m fv=$fv ev=$ev useF=$useF " +
          s"useE=$useE conj=$conj k=$k\n got=${got.toSeq}\n want=$brute")
    }

    for (i <- 1 to 150) {
      val vocab = 3 + rnd.nextInt(12)
      val nDocs = 10 + rnd.nextInt(400)
      val corpus = randomCorpus(nDocs, vocab)
      // i % 4 == 2: phrase mode — sample a 2-token phrase that exists
      // somewhere half the time (like the phrase suite)
      val usePhrase = i % 4 == 2
      val phrase: Seq[String] =
        if (!usePhrase) null
        else if (i % 2 == 0) {
          val d = corpus(rnd.nextInt(nDocs))
          if (d.length >= 2) { val s0 = rnd.nextInt(d.length - 1); d.slice(s0, s0 + 2).toSeq }
          else Seq.fill(2)("t" + rnd.nextInt(vocab))
        } else Seq.fill(2)("t" + rnd.nextInt(vocab))
      val terms =
        if (usePhrase) phrase.distinct.sorted
        else Seq.fill(1 + rnd.nextInt(3))("t" + rnd.nextInt(vocab)).distinct.sorted
      run(corpus, terms, phrase, 1 + rnd.nextInt(15), Seq(4, 16, 128)(i % 3),
        conj = i % 4 == 1, useF = i % 3 != 0, useE = i % 3 != 1)
    }
    // skewed OR cases: filter and must_not over a keyword field
    for ((k, bs) <- skewGrid; j <- 0 until 3)
      run(skewedCorpus(1500), skewedQuery(), null, k, bs, conj = false,
        useF = j != 0, useE = j != 1)
  }

  /** Does `doc` sloppy-match the phrase (Lucene/ES model)? Exhaustive
    * DFS over DISTINCT position choices: exist p_0…p_{m−1}, one per
    * slot, pairwise distinct, with max(p_i − i) − min(p_i − i) ≤ slop.
    * slop = 0 degenerates to exact in-order adjacency; reordered terms
    * match from slop ≥ 2 (a transposed bigram has width 2).
    */
  private def proximityMatch(doc: Array[String], phrase: Seq[String], slop: Int): Boolean = {
    val m = phrase.length
    def go(slot: Int, used: Set[Int], mn: Int, mx: Int): Boolean = {
      if (slot == m) return true
      doc.indices.exists { p =>
        doc(p) == phrase(slot) && !used(p) && {
          val a = p - slot
          val nmn = if (slot == 0) a else math.min(mn, a)
          val nmx = if (slot == 0) a else math.max(mx, a)
          nmx - nmn <= slop && go(slot + 1, used + p, nmn, nmx)
        }
      }
    }
    go(0, Set.empty, 0, 0)
  }

  test("sloppy phrase (slop) ≡ exhaustive DFS on 150 random cases; slop=0 ≡ adjacency") {
    for (i <- 1 to 150) {
      val vocab = 2 + rnd.nextInt(6) // small vocab → real near-misses
      val nDocs = 10 + rnd.nextInt(200)
      val corpus = randomCorpus(nDocs, vocab)
      val len = 2 + rnd.nextInt(2)
      val phrase: Seq[String] =
        if (i % 2 == 0) {
          val d = corpus(rnd.nextInt(nDocs))
          if (d.length >= len) { val s = rnd.nextInt(d.length - len + 1); d.slice(s, s + len).toSeq }
          else Seq.fill(len)("t" + rnd.nextInt(vocab))
        } else Seq.fill(len)("t" + rnd.nextInt(vocab))
      val slop = rnd.nextInt(4)
      val terms = phrase.distinct.sorted
      val (iters, df, _, _) = buildIters(corpus, terms, Seq(4, 16, 128)(i % 3))
      // brute: conjunctive scoring restricted to proximity-matching docs
      val brute = bruteScore(corpus, terms, nDocs, conjunctive = true)
        .filter(s => proximityMatch(corpus(s.docId.toInt), phrase, slop))
        .take(10)
      val got =
        if (terms.exists(t => !df.contains(t))) Array.empty[Scored]
        else Wand.topKPhrase(iters, phrase, 10, slop = slop)
      assert(got.toSeq == brute,
        s"proximity mismatch: phrase=$phrase slop=$slop\n got=${got.toSeq}\n want=$brute")
    }
  }

  test("transposed bigram: slop thresholds follow the Lucene width model") {
    // phrase "a b": "a b" = width 0; "b a" = width 2 (transposition);
    // "b x a" = width 3
    val corpus = Array(Array("b", "a"), Array("a", "b"), Array("b", "x", "a"))
    val phrase = Seq("a", "b")
    def run(slop: Int): Set[Long] = {
      val (iters, _, _, _) = buildIters(corpus, phrase.distinct.sorted, 16)
      Wand.topKPhrase(iters, phrase, 10, slop = slop).map(_.docId).toSet
    }
    assert(run(0) == Set(1L))
    assert(run(1) == Set(1L))
    assert(run(2) == Set(0L, 1L))
    assert(run(3) == Set(0L, 1L, 2L))
  }

  /** Brute oracle with should semantics: score = BM25 sum over matched
    * (must ∪ should) terms in ascending term order; qualify = must-group
    * rule (≥1 for OR, all for AND) AND ≥ minShould should terms.
    */
  private def bruteShould(corpus: Array[Array[String]], mustTerms: Seq[String],
      shouldTerms: Seq[String], k: Int, conjunctive: Boolean, minShould: Int): Seq[Scored] = {
    val tfs = corpus.map(tfOf)
    val dls = corpus.map(_.length)
    val n = corpus.length.toLong
    val avgdl = dls.sum.toDouble / corpus.length
    val df: Map[String, Long] =
      tfs.flatMap(_.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val mq = mustTerms.distinct.sorted.filter(df.contains)
    val sq = shouldTerms.distinct.sorted.filter(df.contains)
    corpus.indices.flatMap { d =>
      val mp = mq.filter(tfs(d).contains)
      val sp = sq.filter(tfs(d).contains)
      val mustOk =
        if (mq.isEmpty) true
        else if (conjunctive) mp.size == mq.size
        else mp.nonEmpty
      if (!mustOk || sp.size < minShould || (mp.isEmpty && sp.isEmpty)) None
      else {
        var s = 0.0
        (mp ++ sp).sorted.foreach(t => s += Bm25.score(tfs(d)(t), df(t), dls(d), n, avgdl))
        Some(Scored(d.toLong, s))
      }
    }.sortBy(s => (-s.score, s.docId)).take(k)
  }

  test("should + minimum_should_match ≡ exhaustive on 150 random cases (OR and AND musts)") {
    def run(corpus: Array[Array[String]], must: Seq[String], should: Seq[String], m: Int,
        k: Int, blockSize: Int, conj: Boolean): Unit = {
      val (mIters, _, _, _) = buildIters(corpus, must, blockSize)
      val (sIters, _, _, _) = buildIters(corpus, should, blockSize)
      val brute = bruteShould(corpus, must, should, k, conj, m)
      val got =
        if (conj && mIters.size < must.size) Array.empty[Scored]
        else if (conj) Wand.topKConjunctive(mIters, k, Nil, Nil, sIters, m)
        else Wand.topK(mIters, k, Nil, Nil, sIters, m)
      assert(got.toSeq == brute,
        s"should mismatch: must=$must should=$should m=$m conj=$conj k=$k\n" +
          s" got=${got.toSeq}\n want=$brute")
    }

    for (i <- 1 to 150) {
      val vocab = 3 + rnd.nextInt(10)
      val nDocs = 10 + rnd.nextInt(300)
      val corpus = randomCorpus(nDocs, vocab)
      val nMust = i % 3 // 0 = pure should group
      val must = Seq.fill(nMust)("t" + rnd.nextInt(vocab)).distinct.sorted
      val should = Seq.fill(1 + rnd.nextInt(3))("t" + rnd.nextInt(vocab))
        .distinct.filterNot(must.contains).sorted
      if (should.nonEmpty)
        run(corpus, must, should, rnd.nextInt(should.size + 1), 1 + rnd.nextInt(12),
          Seq(4, 16, 128)(i % 3), conj = nMust > 0 && i % 2 == 0)
    }
    // skewed OR musts: "all" / heads / rares split between the groups
    for ((k, bs) <- skewGrid; nMust <- 0 until 3) {
      val q = skewedQuery()
      val must = rnd.shuffle(q).take(nMust).sorted
      val should = q.filterNot(must.contains)
      run(skewedCorpus(1500), must, should, rnd.nextInt(math.min(3, should.size + 1)), k, bs,
        conj = false)
    }
  }

  test("search_after pages tile the full ranking on 100 random cases (OR/AND/phrase)") {
    def tile(corpus: Array[Array[String]], terms: Seq[String], phrase: Seq[String],
        conj: Boolean, k: Int, blockSize: Int): Unit = {
      val phraseMode = phrase != null
      val (_, df, _, _) = buildIters(corpus, terms, blockSize)
      if (terms.forall(df.contains)) {
        val full = bruteScore(corpus, terms, corpus.length, conj || phraseMode, phrase = phrase)
        def run(after: Scored): Array[Scored] = {
          // fresh iterators per page (cursors are stateful)
          val (it, _, _, _) = buildIters(corpus, terms, blockSize)
          if (phraseMode) Wand.topKPhrase(it, phrase, k, after = after)
          else if (conj) Wand.topKConjunctive(it, k, after = after)
          else Wand.topK(it, k, after = after)
        }
        var pages = Vector.empty[Scored]
        var cursor: Scored = null
        var done = false
        while (!done) {
          val page = run(cursor)
          pages ++= page
          if (page.length < k) done = true else cursor = page.last
        }
        assert(pages == full.toVector,
          s"search_after tiling: terms=$terms conj=$conj phrase=$phrase k=$k\n" +
            s" got=$pages\n want=$full")
      }
    }

    for (i <- 1 to 100) {
      val vocab = 3 + rnd.nextInt(8)
      val nDocs = 20 + rnd.nextInt(300)
      val corpus = randomCorpus(nDocs, vocab)
      val phraseMode = i % 4 == 3
      val phrase: Seq[String] =
        if (!phraseMode) null
        else {
          val d = corpus(rnd.nextInt(nDocs))
          if (d.length >= 2) { val s0 = rnd.nextInt(d.length - 1); d.slice(s0, s0 + 2).toSeq }
          else Seq.fill(2)("t" + rnd.nextInt(vocab))
        }
      val terms =
        if (phraseMode) phrase.distinct.sorted
        else Seq.fill(1 + rnd.nextInt(3))("t" + rnd.nextInt(vocab)).distinct.sorted
      tile(corpus, terms, phrase, conj = !phraseMode && i % 4 == 1, 2 + rnd.nextInt(8),
        Seq(4, 16, 128)(i % 3))
    }
    // skewed OR pages: θ comes from a page's own docs, never from `after`
    for ((k, bs) <- skewGrid) tile(skewedCorpus(400), skewedQuery(), null, conj = false, k, bs)
  }

  test("SortedArrayCursor ≡ linear reference; tombstone excludes ≡ posting-list excludes") {
    // cursor semantics against a linear scan
    for (_ <- 1 to 50) {
      val ids = (0 until 200).filter(_ => rnd.nextBoolean()).map(_.toLong).toArray
      val c = new Wand.SortedArrayCursor(ids)
      var target = 0L
      while (target < 220L) {
        c.nextGEQ(target)
        val want = ids.find(_ >= target).getOrElse(Long.MaxValue)
        assert(c.curDoc == want, s"nextGEQ($target) gave ${c.curDoc}, want $want")
        target += 1 + rnd.nextInt(7)
      }
    }
    // excluding docs via SortedArrayCursor ≡ excluding via an equivalent
    // posting list (the MultiSearcher tombstone path vs the must_not path)
    for (i <- 1 to 50) {
      val vocab = 3 + rnd.nextInt(8)
      val nDocs = 20 + rnd.nextInt(300)
      val corpus = randomCorpus(nDocs, vocab)
      val terms = Seq.fill(1 + rnd.nextInt(3))("t" + rnd.nextInt(vocab)).distinct.sorted
      val k = 1 + rnd.nextInt(10)
      val blockSize = Seq(4, 16, 128)(i % 3)
      val dead = (0 until nDocs).filter(_ => rnd.nextInt(4) == 0)
      val (it1, _, _, _) = buildIters(corpus, terms, blockSize)
      val (it2, _, n, avgdl) = buildIters(corpus, terms, blockSize)
      val viaArray = Wand.topK(it1, k,
        excludes = Seq(new Wand.SortedArrayCursor(dead.map(_.toLong).toArray)))
      val viaList = Wand.topK(it2, k,
        excludes = if (dead.isEmpty) Nil else Seq(fieldIter("#dead", dead, blockSize, n, avgdl)))
      assert(viaArray.toSeq == viaList.toSeq)
      val brute = bruteScore(corpus, terms, nDocs, conjunctive = false)
        .filterNot(s => dead.contains(s.docId.toInt)).take(k)
      assert(viaArray.toSeq == brute)
    }
  }

  test("union-cursor clauses (terms filter) ≡ exhaustive on 100 random cases") {
    for (i <- 1 to 100) {
      val vocab = 3 + rnd.nextInt(10)
      val nDocs = 10 + rnd.nextInt(300)
      val corpus = randomCorpus(nDocs, vocab)
      val terms = Seq.fill(1 + rnd.nextInt(3))("t" + rnd.nextInt(vocab)).distinct.sorted
      val k = 1 + rnd.nextInt(12)
      val blockSize = Seq(4, 16, 128)(i % 3)
      val conj = i % 3 == 1
      // clause: docId % m ∈ {v1, v2} — one UnionCursor over two lists
      val m = 3 + rnd.nextInt(3)
      val v1 = rnd.nextInt(m)
      val v2 = rnd.nextInt(m)
      val (iters, df, n, avgdl) = buildIters(corpus, terms, blockSize)
      val clause = new Wand.UnionCursor(Seq(
        fieldIter(s"#f:$v1", (0 until nDocs).filter(_ % m == v1), blockSize, n, avgdl),
        fieldIter(s"#f:$v2", (0 until nDocs).filter(_ % m == v2), blockSize, n, avgdl)))
      val brute = bruteScore(corpus, terms, nDocs, conj)
        .filter(s => s.docId % m == v1 || s.docId % m == v2)
        .take(k)
      val qt = terms.filter(df.contains)
      val got =
        if (conj && qt.size < terms.size) Array.empty[Scored]
        else if (conj) Wand.topKConjunctive(iters, k, Seq(clause))
        else Wand.topK(iters, k, Seq(clause))
      assert(got.toSeq == brute,
        s"union-clause mismatch: terms=$terms m=$m v1=$v1 v2=$v2 conj=$conj k=$k\n" +
          s" got=${got.toSeq}\n want=$brute")
    }
  }

  test("ties at the k boundary rank by docId asc: topK, topKConjunctive ≡ exhaustive") {
    val corpus = Array.tabulate(260)(i => ScoringSpec.tieText(i).split(' '))
    for (terms <- Seq(Seq("alpha"), Seq("alpha", "beta")); k <- Seq(8, 10, 25);
        blockSize <- Seq(4, 16, 128); conj <- Seq(false, true)) {
      val all = bruteScore(corpus, terms, k + 1, conj)
      assert(all(k - 1).score == all(k).score, s"no tie at the boundary: $terms k=$k")
      val (iters, _, _, _) = buildIters(corpus, terms, blockSize)
      val got = if (conj) Wand.topKConjunctive(iters, k) else Wand.topK(iters, k)
      assert(got.toSeq == all.take(k), s"$terms k=$k blockSize=$blockSize conj=$conj")
    }
  }

  test("cursor buffer reuse: every posting ≡ a fresh block decode across block boundaries") {
    val r = new scala.util.Random(7)
    val n = 5000L
    val avgdl = 17.5

    /** One list as blocks of MIXED sizes: runs over disjoint docId ranges
      * encoded with different block sizes, so a short block follows a
      * long one and runs end in partial blocks. Every other list comes
      * unsorted. `stale` stores block maxima scored under other stats
      * (avgdl · 3), as a segment's blocks carry once the merged stats
      * move: the cursor must not read them.
      */
    final class Ref(val blocks: Array[PostingBlock], val ids: Array[Long], val tfs: Array[Int],
        val dls: Array[Int], val poss: Array[Array[Int]], val blk: Array[PostingBlock])
    def listOf(shuffle: Boolean, stale: Boolean): Ref = {
      val nPost = 1 + r.nextInt(300)
      var d = r.nextInt(5).toLong
      val ids = Array.fill(nPost) { val x = d; d += 1 + r.nextInt(12); x }
      val tfs = Array.fill(nPost)(1 + r.nextInt(5))
      val dls = tfs.map(tf => tf + r.nextInt(40))
      val pos = tfs.map(tf => r.shuffle((0 until 60).toList).take(tf).sorted.toArray)
      val storedAvgdl = if (stale) 3 * avgdl else avgdl
      val scores = Array.tabulate(nPost)(i => Bm25.score(tfs(i), nPost, dls(i), n, storedAvgdl))
      val bs = scala.collection.mutable.ArrayBuffer[PostingBlock]()
      var lo = 0
      while (lo < nPost) {
        val hi = math.min(nPost, lo + 1 + r.nextInt(80))
        val sl = (lo until hi)
        bs ++= Codec.encodeBlocks(1L, 0, 0, sl.map(ids).toArray, sl.map(tfs).toArray,
          sl.map(dls).toArray, sl.map(scores).toArray,
          sl.map(i => Codec.encodePositions(pos(i))).toArray, Seq(1, 3, 8, 16, 128)(r.nextInt(5)))
        lo = hi
      }
      val sorted = bs.toArray
      // the reference: each block decoded afresh, independently of any cursor
      val blk = sorted.flatMap(b => Array.fill(b.count)(b))
      val decs = sorted.map(Codec.decodeBlock)
      val possRef = sorted.zip(decs).flatMap { case (b, dec) => Codec.decodePositions(b, dec.tfs) }
      new Ref(if (shuffle) r.shuffle(sorted.toSeq).toArray else sorted,
        decs.flatMap(_.docIds), decs.flatMap(_.tfs), decs.flatMap(_.dls), possRef, blk)
    }

    for (c <- 1 to 80) {
      val stale = c % 4 == 0
      val refs = Array(listOf(shuffle = c % 2 == 0, stale), listOf(shuffle = c % 3 == 0, stale))
      val boost = if (c % 3 == 0) 1.7 else 1.0
      val its = refs.map(ref =>
        compressedIter("t", ref.blocks, 0.0, ref.ids.length.toLong, n, avgdl, boost = boost))
      val at = Array(0, 0) // the reference posting each cursor must sit on
      def check(j: Int, what: String): Unit = {
        val (it, ref, i) = (its(j), refs(j), at(j))
        if (i >= ref.ids.length) assert(it.exhausted && it.curDoc == Long.MaxValue, what)
        else {
          val df = ref.ids.length.toLong
          assert(it.curDoc == ref.ids(i), what)
          assert(java.lang.Double.doubleToRawLongBits(it.score) ==
            java.lang.Double.doubleToRawLongBits(
              boost * Bm25.score(ref.tfs(i), df, ref.dls(i), n, avgdl)), what)
          val b = ref.blk(i)
          // the exact in-block maximum under the cursor's stats, whatever
          // the block stored
          val inBlock = ref.ids.indices.filter(ref.blk(_) eq b)
            .map(p => Bm25.score(ref.tfs(p), df, ref.dls(p), n, avgdl)).max
          assert(java.lang.Double.doubleToRawLongBits(it.blockMax) ==
            java.lang.Double.doubleToRawLongBits(boost * inBlock), what)
          assert(it.blockLast == b.lastDocId, what)
          // positions read lazily: skipped at some postings
          if (r.nextBoolean()) {
            val np = it.positions()
            assert(it.posBuf.take(np).sameElements(ref.poss(i)), what)
          }
        }
      }
      def seekRef(j: Int, target: Long): Unit =
        while (at(j) < refs(j).ids.length && refs(j).ids(at(j)) < target) at(j) += 1
      check(0, s"case $c: first posting"); check(1, s"case $c: first posting")
      var steps = 0
      while (!(its(0).exhausted && its(1).exhausted)) {
        // interleave the two cursors: each keeps its own position buffer
        val j = r.nextInt(2)
        val it = its(j)
        if (!it.exhausted) {
          val cur = it.curDoc
          val what = s"case $c step $steps cursor $j"
          r.nextInt(4) match {
            case 0 =>
              val t = cur + r.nextInt(3)
              it.nextGEQ(t); seekRef(j, t); check(j, s"$what nextGEQ($t)")
            case 1 =>
              val t = cur + r.nextInt(200)
              it.nextGEQ(t); seekRef(j, t); check(j, s"$what far nextGEQ($t)")
            case 2 =>
              val t = cur + r.nextInt(400)
              it.shallowSeek(t); it.nextGEQ(t); seekRef(j, t)
              check(j, s"$what shallowSeek+nextGEQ($t)")
            case _ =>
              it.advancePast(cur); seekRef(j, cur + 1); check(j, s"$what advancePast($cur)")
          }
        }
        steps += 1
      }
    }
  }

  test("warm lists ≡ fresh block decodes at every posting: block sizes 4/16/128, gallop jumps") {
    val r = new scala.util.Random(11)
    val n = 5000L
    val avgdl = 17.5
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    for (bs <- Seq(4, 16, 128); c <- 1 to 4) {
      // several full blocks and a partial last one; docId gaps of 1-4
      val nPost = bs * (3 + r.nextInt(4)) + 1 + r.nextInt(bs - 1)
      var d = r.nextInt(3).toLong
      val ids0 = Array.fill(nPost) { val x = d; d += 1 + r.nextInt(4); x }
      val tfs0 = Array.fill(nPost)(1 + r.nextInt(4))
      val dls0 = tfs0.map(tf => tf + r.nextInt(40))
      val pos0 = tfs0.map(tf => r.shuffle((0 until 50).toList).take(tf).sorted.toArray)
      val scores0 = Array.tabulate(nPost)(i => Bm25.score(tfs0(i), nPost, dls0(i), n, avgdl))
      val blocks = Codec.encodeBlocks(1L, 0, 0, ids0, tfs0, dls0, scores0,
        pos0.map(Codec.encodePositions), bs).toArray
      // the reference: every block decoded afresh, scored with Bm25.score
      val decs = blocks.map(Codec.decodeBlock)
      val ids = decs.flatMap(_.docIds)
      val scores = decs.flatMap(dec => dec.docIds.indices.map(i =>
        Bm25.score(dec.tfs(i), nPost, dec.dls(i), n, avgdl)))
      val poss = blocks.zip(decs).flatMap { case (b, dec) => Codec.decodePositions(b, dec.tfs) }
      val blk = blocks.flatMap(b => Array.fill(b.count)(b))
      val boost = if (c % 2 == 0) 1.3 else 1.0
      def check(it: Wand.TermIterator, i: Int, what: String): Unit =
        if (i >= nPost) assert(it.exhausted && it.curDoc == Long.MaxValue, what)
        else {
          assert(it.curDoc == ids(i), what)
          assert(bits(it.score) == bits(boost * scores(i)), what)
          val b = blk(i)
          val inBlock = scores.indices.filter(blk(_) eq b).map(scores)
          // the bound is the exact in-block maximum, which under the
          // blocks' own stats is bitwise their stored maxScore
          assert(bits(inBlock.max) == bits(b.maxScore), what)
          assert(bits(it.blockMax) == bits(boost * inBlock.max), what)
          assert(it.blockLast == b.lastDocId, what)
          val np = it.positions()
          assert(it.posBuf.take(np).sameElements(poss(i)), what)
        }
      val list = Wand.PostingList.decoded(blocks, Bm25.idf(nPost.toLong, n), avgdl)
      // jumps in postings: next, two on, within a block, to and past the
      // next block, several blocks on; each lands on a docId or, with
      // `gap`, just before it (the gap's first docId, when there is one)
      for (jump <- Seq(1, 2, bs - 1, bs, bs + 1, 2 * bs + 3); shallow <- Seq(false, true);
          gap <- Seq(false, true)) {
        val it = new Wand.TermIterator("t", list, 0.0, boost, Int.MinValue)
        val what = s"bs=$bs case $c jump=$jump shallow=$shallow gap=$gap"
        check(it, 0, s"$what: first posting")
        var i = 0
        while (i < nPost) {
          val j = i + jump
          val target =
            if (j >= nPost) ids(nPost - 1) + 1
            else if (gap && ids(j) - 1 > ids(j - 1)) ids(j) - 1
            else ids(j)
          if (shallow) it.shallowSeek(target)
          it.nextGEQ(target)
          i = math.min(j, nPost)
          check(it, i, s"$what: nextGEQ($target)")
        }
        // blocks loaded = the distinct blocks landed on
        val landed = (0 until nPost by jump).map(blk).distinct.size
        assert(it.decodes == landed, s"$what: ${it.decodes} loads, $landed blocks")
      }
    }
  }
}
