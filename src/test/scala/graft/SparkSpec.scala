package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt runs suites in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  lazy val tmpRoot: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-test").toString
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(p))
    }
    p
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Stamps `dir` with `formatVersion=<version>` as an older writer did,
    * or removes the flag when `version` is None (a pre-flag writer).
    */
  protected def stampFormat(dir: String, version: Option[Int]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "format.props")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    version.foreach { v =>
      val out = fs.create(p, true)
      out.write(s"formatVersion=$v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    }
  }

  /** `seg`, a live segment of the streaming dir `dir` whose format is not
    * the current one, fails with the one format message — naming the
    * segment and saying "rebuild" — at every reader: a `Searcher` over it
    * alone, a `MultiSearcher` over the dir, `compact`, `compactInPlace`,
    * `maybeCompact` and a resumed build of the segment. None of them
    * writes anything.
    */
  protected def assertRejectedEverywhere(dir: String, seg: String): Unit = {
    import graft.index.{Compaction, CompactionPolicy, IndexBuilder, IndexConfig}
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Set[(String, Long)] = {
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen)).toSet
    }
    val before = files()
    val name = new org.apache.hadoop.fs.Path(seg).getName
    def rejects(what: String)(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains(name) && e.getMessage.contains("rebuild"), s"$what: ${e.getMessage}")
    }
    rejects("Searcher")(new graft.query.Searcher(spark, seg, 8))
    rejects("MultiSearcher")(new graft.query.MultiSearcher(spark, dir))
    rejects("compact")(Compaction.compact(spark, dir, s"$dir.compacted"))
    rejects("compactInPlace")(Compaction.compactInPlace(spark, dir))
    rejects("maybeCompact")(Compaction.maybeCompact(spark, dir,
      CompactionPolicy(maxSegments = 1, tombstoneRatio = 0.0)))
    rejects("resume")(new IndexBuilder(spark, seg, "resume", IndexConfig())
      .buildFrom(spark.emptyDataFrame))
    assert(files() == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.compacted")))
  }
}
