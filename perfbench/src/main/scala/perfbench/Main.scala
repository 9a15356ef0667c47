package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's main program: one JVM, `local[cores]`, one closed-loop client.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --result <file>
  *
  * Set-up (session, warm-up, fixture) is timed as `setup_s` from JVM
  * start. The timed loop then runs the workload's ops until `--seconds`
  * have passed (at least one op), and untimed checks follow. The result
  * (one JSON object) is written to `--result`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = arg("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val attr = new Attribution
    if (traced) spark.sparkContext.addSparkListener(attr)
    val env = new Env(spark, seed, work, new Tracer(traced, spark.sparkContext))
    val w = Workload(workload, env)
    w.setup()
    val setupS =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val setupCounters = env.counters.clone()
    env.counters.clear()
    env.samples.clear()
    env.trace.overheadNs = 0L
    val opMs = scala.collection.mutable.ArrayBuffer[Double]()
    var units = 0L
    var failed = 0
    // CPU per unit is taken per block of ops (at least BlockNs long) and
    // reported as the median over blocks
    val cpuPerUnit = scala.collection.mutable.ArrayBuffer[Double]()
    var blockCpu = Jvm.threadCpuNs()
    var blockUnits = 0L
    val alloc0 = Jvm.allThreadsAlloc()
    val gc0 = Jvm.gcMs()
    val start = System.nanoTime()
    var blockStart = start
    while (opMs.isEmpty || System.nanoTime() - start < seconds * 1e9) {
      val i = opMs.size
      env.trace.op = i
      val t0 = System.nanoTime()
      try { val u = w.op(i); units += u; blockUnits += u }
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] op $i failed: $e")
      }
      val t1 = System.nanoTime()
      opMs += (t1 - t0) / 1e6
      if (t1 - blockStart >= BlockNs || t1 - start >= seconds * 1e9) {
        if (blockUnits > 0) cpuPerUnit += Jvm.threadCpuSince(blockCpu) / 1e3 / blockUnits
        blockCpu = Jvm.threadCpuNs()
        blockUnits = 0L
        blockStart = System.nanoTime()
      }
    }
    val end = System.nanoTime()
    val allocBytes = Jvm.allThreadsAlloc() - alloc0
    val gcMs = Jvm.gcMs() - gc0
    env.trace.op = -1

    var (checked, mismatched) =
      try w.check()
      catch { case e: Exception => System.err.println(s"[perfbench] check failed: $e"); (1, 1) }
    failed += mismatched
    val (indexBytes, indexTurns) = w.index
    val sum = Stats.summarize(opMs.toSeq)
    System.err.println(f"[perfbench] $workload seed=$seed setup=$setupS%.1f s " +
      f"loop=${(end - start) / 1e9}%.1f s checks=${(System.nanoTime() - end) / 1e9}%.1f s ops=${sum.n} " +
      f"p50=${sum.p50}%.3f ms p${sum.tailPct}=${sum.tail}%.3f ms units=$units checked=$checked failed=$failed")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("cpu_us_per_unit", if (cpuPerUnit.isEmpty) Double.NaN else Stats.median(cpuPerUnit.toSeq), "us"),
        ("index_bytes_per_turn", indexBytes.toDouble / indexTurns, "B"))
      else {
        org.apache.spark.sql.GraftSqlBridge.waitListenerBus(spark.sparkContext)
        val loop = Layers.Loop(start, end, opMs.toSeq, allocBytes, gcMs, indexBytes)
        val m = Layers.compute(env, attr, loop, setupCounters)
        // layer self times must account for the op wall, and labelled jobs
        // for the listener's executor CPU, within 10%
        for (k <- Seq("trace.span_cover_frac", "trace.cpu_cover_frac")) {
          checked += 1
          if (math.abs(m(k) - 1) > 0.1) {
            System.err.println(f"[perfbench] $k = ${m(k)}%.3f is outside 1 ± 0.1")
            failed += 1
          }
        }
        Layers.names.map { case (n, u) => (n, m(n), u) }
      }
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": ${failed == 0}, "attempted": ${opMs.size + checked}, "failed": $failed, "metrics": {""", ", ", "}}")
    Files.write(Paths.get(arg("result")), json.getBytes("UTF-8"))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Shortest block of ops that CPU per unit is measured over. */
  val BlockNs = 250000000L

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
