package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.analysis.Analyzer
import graft.model.Turn

/** Seeded input generator. Every corpus row and every op argument the
  * benchmark hands the engine comes from here and depends only on the
  * `--seed`; the engine's own fixed-seed corpus (`Transcripts`) is not
  * used for any timed input.
  *
  * The corpus has the repo's documented input shape (FIXTURES.md §1, the
  * `input_hint` table): 2–16 turns per conversation, roles cycling
  * user/assistant/tool from a per-conversation offset, one of 8 tools on
  * tool turns, 5–120 tokens per turn from a 50k-rank Zipf(1.07)
  * vocabulary, ts = base + 1 h per conversation + 30 s per turn. A seed
  * changes the draws and the tail vocabulary's spelling (so terms hash to
  * other shards), not the shape. Rows use a counter-based PRNG keyed on
  * (seed, conv, turn, version), so a row is the same whichever partition
  * or thread makes it.
  *
  * Queries are cut from generated turns, so their terms follow the
  * corpus's own term distribution (stopword-heavy head, long tail) and
  * each has at least one matching turn.
  */
object Gen {
  val VocabSize = 50000
  val ZipfS = 1.07
  val Roles = Seq("user", "assistant", "tool")
  val Tools = 8
  val MinTokens = 5
  val MaxTokens = 120
  private val HeadWords = Array(
    "the", "a", "of", "to", "and", "in", "is", "it", "you", "that",
    "was", "for", "on", "are", "with", "as", "be", "at", "one", "have")
  private val BaseEpochSec = 1767225600L // 2026-01-01T00:00:00Z

  def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def draw(seed: Long, a: Long, b: Long, k: Long): Long =
    mix(mix(mix(seed) ^ (a * 0x632be59bd9b4e019L)) ^ (b * 0x8cb92ba72f3d8dd7L) ^ k)
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
  private def below(x: Long, n: Long): Long = java.lang.Long.remainderUnsigned(x, n)

  lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1.0, ZipfS))
    val total = w.sum
    var acc = 0.0
    val cdf = w.map { x => acc += x / total; acc }
    cdf(VocabSize - 1) = 1.0
    cdf
  }
  def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  /** Seeded spelling of the vocabulary: head ranks are real stopwords,
    * tail ranks an affine bijection of the rank modulo a prime, so each
    * seed spells (and shards) the tail differently.
    */
  final case class Vocab(seed: Long) {
    private val P = 1000003L
    private val a = 1L + below(mix(seed ^ 0x5bd1e995L), P - 1)
    private val b = below(mix(seed ^ 0x27d4eb2fL), P)
    def word(rank: Int): String =
      if (rank < HeadWords.length) HeadWords(rank) else "w" + ((rank * a + b) % P)
  }

  def convId(conv: Long): String = f"conv-$conv%08d"
  def turnsPerConv(seed: Long, conv: Long): Int = 2 + below(draw(seed, conv, -1, 0), 15).toInt

  /** The row for (conv, turn) at `version` (0 = first write; a higher
    * version is a later re-ingest of the same key: a minute later per
    * version, new text).
    */
  def turn(seed: Long, vocab: Vocab, conv: Long, t: Int, version: Int = 0): Turn = {
    def d(k: Long) = draw(seed, conv, (t.toLong << 16) | version, k)
    val role = Roles(((below(draw(seed, conv, -2, 0), 3) + t) % 3).toInt)
    val tool = if (role == "tool") Some("tool" + below(d(1), Tools)) else None
    val len = MinTokens + below(d(2), MaxTokens - MinTokens + 1).toInt
    val sb = new java.lang.StringBuilder(len * 7)
    var j = 0
    while (j < len) {
      if (j > 0) sb.append(' ')
      sb.append(vocab.word(zipfRank(unit(d(16 + j)))))
      j += 1
    }
    val tsSec = BaseEpochSec + conv * 3600L + t * 30L + version * 60L
    Turn(convId(conv), t, role, sb.toString, tool, new Timestamp(tsSec * 1000L))
  }

  /** Every turn of conversations [lo, hi), first writes only. */
  def rows(seed: Long, lo: Long, hi: Long): Iterator[Turn] = {
    val vocab = Vocab(seed)
    (lo until hi).iterator.flatMap { conv =>
      (0 until turnsPerConv(seed, conv)).iterator.map(t => turn(seed, vocab, conv, t))
    }
  }

  /** The corpus as a Dataset made on the executors (no driver collect). */
  def corpus(spark: SparkSession, seed: Long, convs: Long, partitions: Int): Dataset[Turn] = {
    import spark.implicits._
    spark.range(0L, convs, 1L, partitions).flatMap(c => rows(seed, c, c + 1))
  }

  // --- op streams --------------------------------------------------------

  /** Query classes, issued in this rotation: equal shares, and the first
    * four queries of a stream hold one of each.
    */
  val Kinds = Vector("or", "and", "phrase", "bool")

  /** One search request. `kind`: one of [[Kinds]]. */
  final case class Query(kind: String, text: String, k: Int,
      role: Option[String] = None, notTool: Option[String] = None)

  /** Seeded query stream over a corpus of `convs` conversations. Each
    * query is cut from a random turn: a phrase is 2–6 consecutive tokens,
    * any other class 1–6 tokens from distinct positions (so an AND query
    * matches at least its source turn). k is 10 or 100; a bool query
    * filters on a role and, half the time, excludes a tool. Every choice
    * is uniform.
    */
  def queries(seed: Long, stream: Long, n: Int, convs: Long): Vector[Query] = {
    val r = new SplittableRandom(mix(seed ^ mix(stream)))
    val vocab = Vocab(seed)
    Vector.tabulate(n) { i =>
      val kind = Kinds(i % Kinds.size)
      val k = if (r.nextBoolean()) 10 else 100
      val conv = r.nextLong(convs)
      val toks = Analyzer.tokenize(turn(seed, vocab, conv, r.nextInt(turnsPerConv(seed, conv))).text)
      val text =
        if (kind == "phrase") {
          val w = math.min(toks.length, r.nextInt(2, 7))
          val at = r.nextInt(toks.length - w + 1)
          toks.slice(at, at + w)
        } else {
          val w = math.min(toks.length, r.nextInt(1, 7))
          val pos = toks.indices.toArray
          for (j <- 0 until w) {
            val x = r.nextInt(j, pos.length)
            val t = pos(j); pos(j) = pos(x); pos(x) = t
          }
          pos.take(w).sorted.map(toks(_))
        }
      if (kind == "bool")
        Query(kind, text.mkString(" "), k, role = Some(Roles(r.nextInt(Roles.size))),
          notTool = if (r.nextBoolean()) Some("tool" + r.nextInt(Tools)) else None)
      else Query(kind, text.mkString(" "), k)
    }
  }

  /** Distributed op classes, issued in this order between ingest
    * batches, so every seed runs the same class mix.
    */
  val SparkOps = Vector("search", "bool", "facet", "datehist", "highlight")

  // --- ingest stream ----------------------------------------------------

  type Key = (Long, Int)
  /** One micro-batch: rows to append (new keys and re-ingested live
    * keys), live keys to delete after it, and queries to run between
    * batches.
    */
  final case class Batch(rows: Vector[Turn], upserts: Int, deletes: Vector[Key],
      queries: Vector[String])

  /** The ingest op stream plus the live corpus it leaves (key → version,
    * last write wins, deleted keys absent) — the truth the final search
    * is checked against.
    */
  final case class IngestPlan(batches: Vector[Batch], live: Map[Key, Int]) {
    def liveRows(seed: Long): Vector[Turn] = {
      val vocab = Vocab(seed)
      live.toVector.sorted.map { case ((c, t), v) => turn(seed, vocab, c, t, v) }
    }
  }

  /** Batch `b` adds conversations [b·convsPerBatch, (b+1)·convsPerBatch),
    * re-ingests `upsertShare` of the live keys and then deletes
    * `deleteShare` of them; its queries are cut from the conversations
    * written so far.
    */
  def ingestPlan(seed: Long, batches: Int, convsPerBatch: Int, upsertShare: Double,
      deleteShare: Double, queriesPerBatch: Int): IngestPlan = {
    val r = new SplittableRandom(mix(seed ^ 0x1d8e4e27c47d124fL))
    val vocab = Vocab(seed)
    var live = Map.empty[Key, Int]
    val out = Vector.tabulate(batches) { b =>
      val fresh = (b.toLong * convsPerBatch until (b + 1L) * convsPerBatch).flatMap { c =>
        (0 until turnsPerConv(seed, c)).map(t => (c, t) -> 0)
      }
      val liveKeys = live.keys.toVector.sorted
      val nUp = (liveKeys.size * upsertShare).toInt
      val ups = Vector.fill(nUp)(liveKeys(r.nextInt(liveKeys.size))).distinct
        .map(k => k -> (live(k) + 1))
      val batchKeys = fresh ++ ups
      live ++= batchKeys
      val after = live.keys.toVector.sorted
      val dels = Vector.fill((after.size * deleteShare).toInt)(after(r.nextInt(after.size))).distinct
      live --= dels
      val qs = queries(seed, 1000L + b, queriesPerBatch, (b + 1L) * convsPerBatch).map(_.text)
      Batch(batchKeys.map { case ((c, t), v) => turn(seed, vocab, c, t, v) }.toVector,
        ups.size, dels, qs)
    }
    IngestPlan(out, live)
  }
}
