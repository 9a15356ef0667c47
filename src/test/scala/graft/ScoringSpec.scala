package graft

import java.lang.Double.doubleToRawLongBits
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.index.{DocIds, IndexBuilder, IndexConfig}
import graft.model.{Scored, Turn}
import graft.query.{Bm25, Oracle, Searcher}

/** The BM25 formula split (idf once per cursor, then the per-posting
  * factor) keeps every score bit-identical to the one-piece formula and
  * its Catalyst twin, and equal scores rank by docId ascending wherever
  * the top-k boundary cuts a tie.
  */
class ScoringSpec extends SparkSpec {
  import spark.implicits._

  test("BM25 split: scoreIdf(idf(df, n), …) ≡ score ≡ Catalyst scoreCol, bit for bit") {
    val r = new scala.util.Random(11)
    val boost = 1.7
    for (n <- Seq(1L, 2L, 37L, 1000L, 123457L)) {
      val avgdl = 0.5 + r.nextDouble() * 60
      val grid: Seq[(Int, Long, Int)] = (for {
        df <- (Seq(1L, n) ++ Seq.fill(4)(1L + (r.nextLong() & Long.MaxValue) % n)).distinct
        tf <- Seq(1, 2, 1 + r.nextInt(50))
        dl <- Seq(0, 1, tf, r.nextInt(500))
      } yield (tf, df, dl)).distinct
      val catalyst: Map[(Int, Long, Int), (Double, Double)] = grid.toDF("tf", "df", "dl")
        .select(col("tf"), col("df"), col("dl"),
          Bm25.scoreCol(col("tf"), col("df"), col("dl"), n, avgdl).as("s"),
          (Bm25.scoreCol(col("tf"), col("df"), col("dl"), n, avgdl) * lit(boost)).as("sb"))
        .as[(Int, Long, Int, Double, Double)].collect()
        .map(x => (x._1, x._2, x._3) -> (x._4, x._5)).toMap
      for ((tf, df, dl) <- grid) {
        val what = s"tf=$tf df=$df dl=$dl n=$n avgdl=$avgdl"
        val split = Bm25.scoreIdf(Bm25.idf(df, n), tf, dl, avgdl)
        val whole = Bm25.score(tf, df, dl, n, avgdl)
        assert(doubleToRawLongBits(split) == doubleToRawLongBits(whole), what)
        assert(doubleToRawLongBits(split) == doubleToRawLongBits(catalyst((tf, df, dl))._1), what)
        assert(doubleToRawLongBits(boost * split) ==
          doubleToRawLongBits(catalyst((tf, df, dl))._2), s"boosted $what")
      }
    }
  }

  test("ties at the k boundary rank by docId asc: 4-bucket warm Searcher ≡ Oracle") {
    val nDocs = 260
    val ts = new Timestamp(0L)
    val turns = (0 until nDocs).map(i =>
      Turn(f"conv-${i / 4}%08d", i % 4, "user", ScoringSpec.tieText(i), None, ts)).toDS()
    val dir = s"${TestSpark.tmpRoot}/index-ties"
    val cfg = IndexConfig(numBuckets = 4, numShards = 4, blockSize = 8, partitions = 4)
    new IndexBuilder(spark, dir, "snap-ties", cfg)
      .build(DocIds.assign(DocIds.dedup(turns), cfg.partitions))
    val docs = spark.read.parquet(s"$dir/docs").cache()
    val warm = new Searcher(spark, dir, cfg.numShards).warm()
    val distributed = new Searcher(spark, dir, cfg.numShards).warm(maxLocalBlockBytes = 0L)
    def hits(f: org.apache.spark.sql.DataFrame): Seq[Scored] = f.as[Scored].collect().toSeq
    for (q <- Seq("alpha", "alpha beta"); k <- Seq(8, 10, 25)) {
      val or = hits(Oracle.topK(docs, q, k))
      val and = hits(Oracle.topKConjunctive(docs, q, k))
      // the cut falls inside the tied run, whose docs span every bucket
      val full = hits(Oracle.topK(docs, q, k + 1))
      assert(full(k - 1).score == full(k).score, s"no tie at the boundary: $q k=$k")
      for (s <- Seq(warm, distributed)) {
        assert(s.search(q, k).toSeq == or, s"OR $q k=$k")
        assert(s.searchConjunctive(q, k).toSeq == and, s"AND $q k=$k")
      }
    }
  }
}

object ScoringSpec {
  /** Ties straddling rank k: 7 docs rank strictly first ("alpha alpha
    * beta"), then a long run of identical-score docs spread over every
    * docId range, so a cut at k ≥ 8 falls inside the run.
    */
  def tieText(i: Int): String =
    if (i % 37 == 5) "alpha alpha beta"
    else if (i % 4 == 1) "alpha beta gamma" // the tied run
    else if (i % 4 == 3) "gamma beta delta"
    else "delta epsilon zeta"
}
