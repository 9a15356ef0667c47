package graft.query

import org.apache.spark.sql.SparkSession

import graft.index.SegmentCatalog

/** The [[Searcher]] of a streaming dir: the live `seg-*` sub-indexes
  * (resolved through the [[SegmentCatalog]] pointer, so a mid-compaction
  * crash never yields a doubled or empty corpus) and the dir's
  * tombstones, queried as one corpus under global LWW statistics.
  */
class MultiSearcher(spark: SparkSession, indexDir: String)
    extends Searcher(spark, indexDir, 0, MultiSearcher.liveSegments(spark, indexDir))

private object MultiSearcher {
  def liveSegments(spark: SparkSession, indexDir: String): Seq[String] = {
    val segs = SegmentCatalog.liveSegments(spark, indexDir)
    require(segs.nonEmpty, s"no live seg-* sub-indexes under $indexDir")
    segs
  }
}
