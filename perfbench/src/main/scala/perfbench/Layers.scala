package perfbench

/** Per-layer metrics of a traced run, from the tracer's spans, the
  * listener's jobs and the workloads' counters. Every name is reported on
  * every workload; a layer the workload does not call reads 0.
  */
object Layers {
  val Cells = Seq("docs", "dict0", "blocks", "finalize")
  val CellStats = Seq("wall_s", "cpu_s", "shuffle_write_bytes", "spill_bytes", "jobs", "tasks")

  /** The cell family of a manifest cell or a `graft build: <cell>` label:
    * every `bucket=*` cell and the fused block job count as `blocks`.
    */
  def cellOf(cell: String): String =
    if (cell.startsWith("bucket=") || cell.startsWith("blocks")) "blocks" else cell

  val BuildLabel = "graft build: "

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    Seq("op.samples" -> "count", "op.p50_ms" -> "ms", "op.tail_ms" -> "ms", "op.tail_pct" -> "pct",
      "trace.overhead_frac" -> "frac", "trace.span_cover_frac" -> "frac",
      "trace.cpu_cover_frac" -> "frac",
      "docids.wall_s" -> "s", "docids.cpu_s" -> "s", "docids.shuffle_write_bytes" -> "B") ++
    (for (c <- Cells; s <- CellStats) yield s"build.$c.$s" -> unitOf(s)) ++
    Seq("build.driver_gap_s" -> "s", "build.executor_busy_frac" -> "frac", "build.jobs" -> "count",
      "analysis.query_us" -> "us", "searcher.lookup_us" -> "us", "searcher.topk_us" -> "us",
      "searcher.terms_per_query" -> "count", "searcher.df_sum_per_query" -> "count",
      "searcher.alloc_bytes_per_query" -> "B", "searcher.gc_ms_per_1k" -> "ms",
      "searcher.jobs_per_query" -> "count",
      "spark.plan_ms" -> "ms", "spark.job_ms" -> "ms", "spark.driver_ms" -> "ms",
      "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.cpu_ms_per_op" -> "ms",
      "spark.scan_bytes_per_op" -> "B", "spark.shuffle_bytes_per_op" -> "B") ++
    Gen.SparkOps.map(c => s"spark.$c.p50_ms" -> "ms") ++
    Seq("ingest.append_s" -> "s", "ingest.append_jobs" -> "count", "ingest.append_cpu_s" -> "s",
      "ingest.delete_s" -> "s", "ingest.tombstones" -> "count", "ingest.refresh_p50_s" -> "s",
      "compaction.runs" -> "count", "compaction.s" -> "s", "compaction.bytes_written" -> "B",
      "compaction.write_amp" -> "ratio",
      "multisearcher.open_s" -> "s", "multisearcher.live_segments" -> "count",
      "multisearcher.query_ms" -> "ms")

  private def unitOf(stat: String): String = stat match {
    case "wall_s" | "cpu_s" => "s"
    case "jobs" | "tasks"   => "count"
    case _                  => "B"
  }

  /** A finished timed loop, as the per-layer computation needs it. */
  final case class Loop(startNs: Long, endNs: Long, opMs: Seq[Double], allocBytes: Long, gcMs: Long,
      indexBytes: Long)

  /** `setupCounters`: the counters as set-up left them. The docids and
    * build rows describe the timed ops when they build (ingest);
    * otherwise they describe the set-up fixture build, counted as one op.
    * The compaction rows cover the whole run, set-up included.
    */
  def compute(env: Env, attr: Attribution, loop: Loop,
      setupCounters: collection.Map[String, Double]): Map[String, Double] = {
    val tr = env.trace
    val ops = loop.opMs.size.toDouble
    val spans = tr.spans.filter(s => s.start >= loop.startNs && s.end <= loop.endNs).toSeq
    val jobs = attr.all.filter(j => j.startNs >= loop.startNs && j.startNs <= loop.endNs)
    val bySpan = attr.all.groupBy(_.span)
    val kids = tr.spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(subtree)
    def selfNs(s: Span): Long =
      s.durNs - Tracer.coveredNs(kids.getOrElse(s.id, Nil).toSeq.map(c => (c.start, c.end)), s.start, s.end)
    def named(n: String) = spans.filter(_.name == n)
    def jobsUnder(ss: Seq[Span]): Seq[JobRec] = ss.flatMap(subtree).flatMap(s => bySpan.getOrElse(s.id, Nil))
    def sec(ss: Seq[Span]) = ss.map(_.durNs).sum / 1e9
    def covered(s: Span, js: Seq[JobRec]) =
      Tracer.coveredNs(js.map(j => (j.startNs, j.endNs)), s.start, s.end)
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.foreach { case (n, _) => m(n) = 0.0 }

    val sum = Stats.summarize(loop.opMs)
    m("op.samples") = sum.n
    m("op.p50_ms") = sum.p50
    m("op.tail_ms") = sum.tail
    m("op.tail_pct") = sum.tailPct
    val loopNs = (loop.endNs - loop.startNs).toDouble
    m("trace.overhead_frac") = tr.overheadNs / loopNs
    m("trace.span_cover_frac") = spans.map(selfNs).sum / (loop.opMs.sum * 1e6)
    val allCpu = attr.sum(jobs).cpuNs
    m("trace.cpu_cover_frac") = if (allCpu == 0) 1.0 else attr.sum(jobs.filter(_.span >= 0)).cpuNs.toDouble / allCpu

    // docids + build cells: the timed ops if they build, else the fixture
    val buildsInLoop = spans.exists(_.name == "ingest.append")
    val (bSpans, bJobs, bOps, bCounters) =
      if (buildsInLoop) (spans, jobs, ops, env.counters)
      else {
        val pre = tr.spans.filter(_.end <= loop.startNs).toSeq
        (pre, attr.all.filter(_.startNs < loop.startNs), pre.count(_.name == "build").toDouble, setupCounters)
      }
    def bNamed(n: String) = bSpans.filter(_.name == n)
    val buildJobs = bJobs.filter(_.desc.startsWith(BuildLabel))
    // a streaming append assigns docIds inside the call: its unlabelled
    // jobs before the first build-cell job are the docids work
    val docidJobs = jobsUnder(bNamed("docids")) ++ bNamed("ingest.append").flatMap { s =>
      val js = jobsUnder(Seq(s))
      val firstBuild = js.filter(_.desc.startsWith(BuildLabel)).map(_.startNs).minOption.getOrElse(Long.MaxValue)
      js.filter(j => j.desc.isEmpty && j.startNs < firstBuild)
    }
    if (bOps > 0) {
      val docids = attr.sum(docidJobs)
      m("docids.wall_s") = (sec(bNamed("docids")) + bNamed("ingest.append").map { s =>
        val ids = subtree(s).map(_.id).toSet
        val js = docidJobs.filter(j => ids.contains(j.span))
        if (js.isEmpty) 0L else js.map(_.endNs).max - s.start
      }.sum / 1e9) / bOps
      m("docids.cpu_s") = docids.cpuNs / 1e9 / bOps
      m("docids.shuffle_write_bytes") = docids.shuffleWrite / bOps
      for ((cell, js) <- buildJobs.groupBy(j => cellOf(j.desc.stripPrefix(BuildLabel))) if Cells.contains(cell)) {
        val a = attr.sum(js)
        m(s"build.$cell.cpu_s") = a.cpuNs / 1e9 / bOps
        m(s"build.$cell.shuffle_write_bytes") = a.shuffleWrite / bOps
        m(s"build.$cell.spill_bytes") = a.spill / bOps
        m(s"build.$cell.jobs") = a.jobs / bOps
        m(s"build.$cell.tasks") = a.tasks / bOps
      }
      Cells.foreach(c => m(s"build.$c.wall_s") = bCounters.getOrElse(s"build.$c.wall_s", 0.0) / bOps)
      m("build.jobs") = buildJobs.size / bOps
      val builds = bNamed("build") ++ bNamed("ingest.append")
      val busyMs = builds.map(s => attr.sum(jobsUnder(Seq(s))).runMs).sum
      m("build.driver_gap_s") = builds.map(s => s.durNs - covered(s, jobsUnder(Seq(s)))).sum / 1e9 / bOps
      m("build.executor_busy_frac") = busyMs / (sec(builds) * 1e3 * env.cores)
    }

    val searches = named("searcher.search")
    if (searches.nonEmpty) {
      val n = searches.size.toDouble
      val an = sec(named("analysis")) / n * 1e6
      val lk = sec(named("searcher.lookup")) / n * 1e6
      m("analysis.query_us") = an
      m("searcher.lookup_us") = lk
      m("searcher.topk_us") = sec(searches) / n * 1e6 - an - lk
      m("searcher.terms_per_query") = env.counters("searcher.terms") / n
      m("searcher.df_sum_per_query") = env.counters("searcher.df_sum") / n
      m("searcher.alloc_bytes_per_query") = loop.allocBytes / n
      m("searcher.gc_ms_per_1k") = loop.gcMs / n * 1000
      m("searcher.jobs_per_query") = jobsUnder(searches).size / n
    }

    val sparkOps = spans.filter(s => s.name.startsWith("spark."))
    if (sparkOps.nonEmpty) {
      val n = sparkOps.size.toDouble
      val per = sparkOps.map(s => s -> jobsUnder(Seq(s)))
      val withJobs = per.filter(_._2.nonEmpty)
      m("spark.plan_ms") = withJobs.map { case (s, js) => (js.map(_.startNs).min - s.start) / 1e6 }.sum /
        math.max(1, withJobs.size)
      m("spark.job_ms") = per.map { case (s, js) => covered(s, js) }.sum / 1e6 / n
      m("spark.driver_ms") = per.map { case (s, js) => s.durNs - covered(s, js) }.sum / 1e6 / n
      val a = attr.sum(per.flatMap(_._2))
      m("spark.jobs_per_op") = a.jobs / n
      m("spark.stages_per_op") = a.stages / n
      m("spark.tasks_per_op") = a.tasks / n
      m("spark.cpu_ms_per_op") = a.cpuNs / 1e6 / n
      m("spark.scan_bytes_per_op") = a.input / n
      m("spark.shuffle_bytes_per_op") = (a.shuffleWrite + a.shuffleRead) / n
      for ((name, ss) <- sparkOps.groupBy(_.name))
        m(s"$name.p50_ms") = Stats.median(ss.map(_.durNs / 1e6))
    }

    val appends = named("ingest.append")
    if (appends.nonEmpty) {
      val a = attr.sum(jobsUnder(appends))
      m("ingest.append_s") = sec(appends) / ops
      m("ingest.append_jobs") = a.jobs / ops
      m("ingest.append_cpu_s") = a.cpuNs / 1e9 / ops
      m("ingest.delete_s") = sec(named("ingest.delete")) / ops
      m("ingest.tombstones") = env.counters("ingest.tombstones") / ops
      m("ingest.refresh_p50_s") = Stats.median(env.samples("ingest.refresh_s").toSeq)
      // compactions that ran, set-up's included (set-up always compacts once)
      def whole(k: String) = env.counters(k) + setupCounters.getOrElse(k, 0.0)
      val merges = math.max(1.0, whole("compaction.runs"))
      m("compaction.runs") = whole("compaction.runs")
      m("compaction.s") = whole("compaction.merge_s") / merges
      m("compaction.bytes_written") = whole("compaction.bytes_written") / merges
      m("compaction.write_amp") =
        (whole("ingest.segment_bytes") + whole("compaction.bytes_written")) / loop.indexBytes
      m("multisearcher.open_s") = sec(named("multisearcher.open")) / ops
      m("multisearcher.live_segments") = env.counters("multisearcher.live_segments") / ops
      if (sparkOps.nonEmpty) m("multisearcher.query_ms") = Stats.median(sparkOps.map(_.durNs / 1e6))
    }
    m.toMap
  }
}
