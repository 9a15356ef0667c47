package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** BM25 scoring — ONE formula, expressed twice with identical operation
  * order so the Scala (WAND) path and the Catalyst (oracle / exhaustive)
  * path produce bit-identical doubles (SURVEY.md §7.5 float-determinism
  * decision). k1 = 1.2, b = 0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5))
  * — the Lucene/ES BM25 the reference delegates to (SURVEY.md §3.3).
  * Exact integer `dl` is used; no Lucene 1-byte norm quantization.
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

  /** Scala-side score of one (term, doc) posting. The idf ln is
    * `StrictMath.log`, NOT `math.log`/`Math.log`: Catalyst's `LOG`
    * expression evaluates StrictMath.log, and the intrinsified Math.log
    * may differ in the last ulp at some inputs (a round-5 per-field
    * test caught the divergence at idf argument ≈ 5.16) — both twins
    * must take the deterministic fdlibm path to stay bit-identical.
    */
  def score(tf: Int, df: Long, dl: Int, n: Long, avgdl: Double): Double =
    scoreIdf(idf(df, n), tf, dl, avgdl)

  /** The idf factor of [[score]]: constant per (term, stats), so a
    * posting cursor computes it once, not once per posting.
    */
  def idf(df: Long, n: Long): Double =
    StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** [[score]] given its idf factor — the same operations in the same
    * order, so `scoreIdf(idf(df, n), tf, dl, avgdl)` and
    * `score(tf, df, dl, n, avgdl)` are the same double.
    */
  def scoreIdf(idf: Double, tf: Int, dl: Int, avgdl: Double): Double =
    idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

  /** Catalyst-side score with the same operation order/types.
    * tf: int col, df: long col, dl: int col; n, avgdl: literals.
    */
  def scoreCol(tf: Column, df: Column, dl: Column, n: Long, avgdl: Double): Column =
    log(lit(1.0) + (lit(n) - df + lit(0.5)) / (df + lit(0.5))) * (tf * lit(2.2)) /
      (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / lit(avgdl)))

  /** The idf factor alone (the `_explain` breakdown column) — same
    * sub-expression/operation order as [[scoreCol]]'s first factor.
    */
  def idfCol(df: Column, n: Long): Column =
    log(lit(1.0) + (lit(n) - df + lit(0.5)) / (df + lit(0.5)))

  /** The idf factor as DuckDB SQL (twin of [[idfCol]]). */
  def idfSql(df: String, n: String): String =
    s"ln(1 + ($n - $df + 0.5)/($df + 0.5))"

  /** The same formula as DuckDB SQL text (driver oracle parity). */
  def scoreSql(tf: String, df: String, dl: String, n: String, avgdl: String): String =
    s"ln(1 + ($n - $df + 0.5)/($df + 0.5)) * ($tf*2.2)/($tf + 1.2*(0.25 + 0.75*$dl/$avgdl))"
}
