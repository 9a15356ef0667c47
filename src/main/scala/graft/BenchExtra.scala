package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Round-9 optimization instrumentation (guide §1: measure first) —
  * NOT part of the frozen driver contract ([[Bench]] is). Runs the same
  * `SparkEntry.queries` entries as the bench, but records per-entry:
  * wall seconds (median of 3, same methodology), the number of Spark
  * jobs launched, and each job's duration — the per-query job
  * breakdown that tells fixed job-scheduling floors apart from real
  * computation. Optionally dumps `.explain("formatted")` for entries
  * that return distributed frames (plans/r09 evidence).
  *
  * Usage: `sbt "runMain graft.BenchExtra [entry ...]"` (default: the
  * full bench list). Env contract mirrors Bench: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS.
  */
object BenchExtra {

  final class JobTimer extends SparkListener {
    final case class Job(id: Int, start: Long, var end: Long = 0L)
    val jobs = new scala.collection.mutable.ArrayBuffer[Job]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      jobs.synchronized { jobs += Job(js.jobId, js.time) }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobs.synchronized {
        jobs.find(_.id == je.jobId).foreach(_.end = je.time)
      }
    def reset(): Unit = jobs.synchronized(jobs.clear())
    def summary: String = jobs.synchronized {
      val ds = jobs.map(j => (j.end - j.start) / 1000.0)
      f"${jobs.size}%d jobs [${ds.map(d => f"$d%.2f").mkString(" ")}]"
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shm = new java.io.File("/dev/shm")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (shm.isDirectory && shm.canWrite) {
      builder.config("spark.local.dir", "/dev/shm/graft-benchx-spark")
      sys.props("graft.bench.dir") = "/dev/shm/graft-benchx-index"
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val allNames = Seq("q_bm25_topk", "q_bm25_and", "q_bm25_phrase", "q_bm25_prefix",
      "q_bm25_fuzzy", "q_bm25_filtered", "q_bm25_terms", "q_bm25_should",
      "q_bm25_range_numeric", "q_bm25_field", "q_bm25_multimatch",
      "q_bm25_multimatch_best", "q_bm25_field_phrase", "q_facet_terms_range",
      "q_facet_stats", "q_facet_lang", "q_facet_histogram", "q_stats_field",
      "q_sort_by_field", "q_tf", "q_df", "q_agg_lineitem",
      "q_join_broadcast", "q_minhash_lsh", "q_simhash_pairs", "q_ann_cosine",
      "q_ann_lsh", "q_langid", "q_quality", "q_dedup_exact", "q_window_rank",
      "q_bm25_regexp", "q_bm25_match_fuzzy", "q_dis_max", "q_nested_aggs",
      "q_phrase_suggest", "q_collapse", "q_decay_recency", "q_composite_after",
      "q_pipeline_agg", "q_dis_max_shared", "q_boosting", "q_span_first",
      "q_min_score", "q_suggest_completion", "q_percolate", "q_explain",
      "q_termvectors", "q_scroll_all", "q_multi_index", "q_multi_index_facet",
      "q_multi_index_stats", "q_multi_index_percentiles", "q_multi_index_cardinality")
    val names = if (args.nonEmpty) args.toSeq else allNames

    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    planDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))

    // shared fixtures outside any timed region (same as Bench)
    SparkEntry.queries("q_bm25_topk")(spark, sfDir).count()
    try SparkEntry.queries("q_multi_index_stats")(spark, sfDir).count()
    catch { case e: Throwable => System.err.println(s"[benchx] multi-index warmup failed: $e") }

    val timer = new JobTimer
    spark.sparkContext.addSparkListener(timer)

    println(f"${"entry"}%-28s ${"med_s"}%8s  jobs (seconds)")
    for (name <- names) {
      val q = SparkEntry.queries(name)
      // one untimed warmup rep
      try q(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"[benchx] $name failed: $e") }
      // plan dump (suffix from env, default "before")
      planDir.foreach { d =>
        val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
        try {
          val df = q(spark, sfDir)
          val s = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"${name}_$suffix.txt"),
            s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } catch { case e: Throwable =>
          System.err.println(s"[benchx] plan dump $name failed: $e") }
      }
      val walls = new Array[Double](3)
      var bestJobs = ""
      var i = 0
      spark.sparkContext.setJobDescription(s"benchx: $name") // guide §1.5
      while (i < 3) {
        timer.reset()
        val t0 = System.nanoTime()
        try q(spark, sfDir).count()
        catch { case e: Throwable => System.err.println(s"[benchx] $name failed: $e") }
        walls(i) = (System.nanoTime() - t0) / 1e9
        if (i == 1) {
          // job-end events are posted asynchronously; drain before reading
          org.apache.spark.sql.GraftSqlBridge.waitListenerBus(spark.sparkContext)
          bestJobs = timer.summary // middle rep's breakdown
        }
        i += 1
      }
      spark.sparkContext.setJobDescription(null)
      java.util.Arrays.sort(walls)
      println(f"$name%-28s ${walls(1)}%8.3f  $bestJobs")
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/dev/shm/graft-benchx-spark"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/dev/shm/graft-benchx-index"))
  }
}
