package aqlbench

import graft.engine.Aql
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Entry point; see aqlbench/README.md. Launched by aqlbench/run.py:
  *
  *   aqlbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <scratch dir> --trace-dir <span file dir>
  */
object Main {

  /** Executor cores. The session is built the way graft.Main builds it,
    * with the core count pinned so that runs compare across machines.
    */
  val Cores = 4

  /** Set-up repetitions per run. setup_s is their median, so it is a warm
    * set-up (the JVM has loaded and compiled the engine once); the first,
    * cold one is the setup_cold_s report line.
    */
  val SetupRepeats = 3

  def session(): SparkSession = {
    // built as graft.Main builds it, with SPARK_MASTER=local[4] and SPARK_GRAFT_CPUS=4
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "1024")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val TinyScript =
    """DATA 'T' ([[1, "a"], [2, "b"]]) WITH (COLUMNS = 'Id, Txt')
      |QUERY 'N' FROM BLOCK T (SELECT count(*) AS n FROM T) INTO CONSOLE
      |""".stripMargin

  def workload(name: String): Workload = name match {
    case "etl_relational" => new EtlRelational
    case "curate_inplan" => new CurateInplan
    case "index_lifecycle" => new IndexLifecycle
    case "server_mixed" => new ServerMixed("server_mixed", 4)
    case "server_serial" => new ServerMixed("server_serial", 1)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Exit code of a run that printed its result but had wrong outputs. */
  val WrongOutputExit = 4

  def main(args: Array[String]): Unit = {
    val code =
      try { if (run(args) == 0) 0 else WrongOutputExit }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // Spark's and the HTTP server's pools are non-daemon: end the JVM here
    sys.exit(code)
  }

  /** Runs one workload and prints its result; returns the failed op count. */
  def run(args: Array[String]): Int = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"--$k is required"))
    val w = workload(need("workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traceRun = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val traceDir = Paths.get(need("trace-dir")).toAbsolutePath
    Files.createDirectories(work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(nm: String): Unit =
      println(f"phase $nm%-8s at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")

    // set-up: session creation through the first completed tiny run
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val s = session()
      Aql.run(s, TinyScript)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) s.stop()
      dt
    }
    val spark = SparkSession.active
    phase("setup")
    val ctx = new Ctx(spark, work, seed)
    val tables = w.prepare(ctx)
    tables.foreach(t =>
      println(f"input ${t.name} rows=${t.rows} bytes=${t.bytes}"))

    phase("prepare")
    // unrecorded warm-up, then the measured closed loop
    ctx.round = -1
    val warmEnd = System.nanoTime() + (w.warmupSeconds * 1e9).toLong
    w.warmup(ctx)
    // after a fixed amount of work: inputs written and every plan run once
    val heapMb = retainedHeapMb()
    while (System.nanoTime() < warmEnd) w.round(ctx)
    phase("warm-up")
    val sc = spark.sparkContext
    val rounds = scala.collection.mutable.ArrayBuffer.empty[RoundRec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    // trace 0 runs every round untraced. trace 1 alternates traced and
    // untraced rounds: the traced ones give the per-layer metrics, both
    // together give trace_overhead_ratio, so it runs at least two
    val minRounds = if (traceRun) math.max(2, w.minRounds) else w.minRounds
    while (System.nanoTime() < deadline || r < minRounds) {
      val traced = traceRun && r % 2 == 0
      if (traced) { sc.addSparkListener(ctx.counters); ctx.tracer.on = true }
      ctx.round = r
      val t0 = ctx.tracer.nowMs()
      w.round(ctx)
      rounds += RoundRec(r, traced, t0, ctx.tracer.nowMs())
      if (traced) {
        org.apache.spark.AqlBenchBus.drain(sc)
        ctx.tracer.on = false
        sc.removeSparkListener(ctx.counters)
      }
      r += 1
    }
    ctx.round = -1
    phase("measure")
    w.verify(ctx)
    phase("verify")
    val ops = ctx.opList
    val failed = ops.filterNot(_.ok)
    failed.take(5).foreach(o => println(s"failed op ${o.kind}#${o.id}: ${o.err.take(300)}"))

    val metrics =
      if (traceRun) {
        val layers = Layers.compute(ctx, w, Cores) +
          ("trace_overhead_ratio" -> Metric(EndToEnd.traceOverhead(ops), "ratio"))
        Layers.writeSpans(ctx, traceDir.resolve(s"trace-${w.name}.jsonl"))
        layers
      } else {
        val (m, extra) = EndToEnd.compute(ctx, w, setups, heapMb, rounds.toSeq)
        (extra ++ w.report(ctx)).foreach { case (k, v) =>
          println(f"report $k%-24s ${fmt(v.value)} ${v.unit}") }
        m
      }
    phase("metrics")
    ops.groupBy(o => (o.kind, o.traced)).toSeq.sortBy(_._1).foreach { case ((k, t), os) =>
      val l = os.map(_.latency)
      println(f"ops $k%-9s traced=$t%-5s n=${l.size}%3d min=${l.min}%.3f " +
        f"p50=${Stats.median(l)}%.3f max=${l.max}%.3f s " +
        l.take(40).map(x => f"$x%.2f").mkString("[", " ", "]"))
    }
    println(s"session cores=$Cores nproc=${Runtime.getRuntime.availableProcessors} " +
      s"rounds=${rounds.size} ops=${ops.size} failed=${failed.size}")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"metric $k%-32s ${fmt(v.value)} ${v.unit}") }
    println(resultJson(ops.size, failed.size, metrics))
    spark.stop()
    failed.size
  }

  /** The driver's old-generation occupancy right after a full collection:
    * the heap the run retains. The old-gen peak would include garbage that
    * waits for the next collection; it depends on when the collector runs
    * and differed by 40% between runs of server_serial. Spark keeps the
    * status of past jobs, so the retained heap grows with the number of
    * ops run; it is taken after a fixed amount of work for that reason.
    */
  def retainedHeapMb(): Double = {
    // the first collection lets Spark's ContextCleaner see unreachable
    // broadcasts and checkpointed RDDs; it removes their blocks on its own
    // thread, and the second collection frees them. One collection alone
    // read 87–115 MB on index_lifecycle, two read 77.1–77.4 MB
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  def resultJson(attempted: Int, failed: Int, metrics: Map[String, Metric]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s""""$k": {"value": ${jsonNum(m.value)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else fmt(d)
}

/** The end-to-end metrics, from untraced rounds. */
object EndToEnd {

  def compute(ctx: Ctx, w: Workload, setups: Seq[Double], heapMb: Double,
      rounds: Seq[RoundRec]): (Map[String, Metric], Seq[(String, Metric)]) = {
    val ops = ctx.opList
    // a failed job still took its time; it is counted in `failed` too
    val jobsU = ops.filter(o => !o.traced && w.jobKinds(o.kind))
    require(jobsU.nonEmpty, "no untraced job ran")
    val lat = jobsU.map(_.latency)
    val (tailP, tailV) = Stats.tail(lat)
    val wallU = rounds.filterNot(_.traced).map(_.wall).sum
    val m = Map(
      "setup_s" -> Metric(Stats.median(setups), "s"),
      "job_p50_s" -> Metric(Stats.median(lat), "s"),
      "jobs_per_s" -> Metric(jobsU.size / wallU, "1/s"),
      // input rows of the average job ÷ the median job's latency
      "rows_per_s" -> Metric(jobsU.map(_.rows).sum.toDouble / jobsU.size / Stats.median(lat), "rows/s"),
      "heap_retained_mb" -> Metric(heapMb, "MB"))
    val extra = Seq(
      "job_tail_s" -> Metric(tailV, "s"),
      "job_tail_percentile" -> Metric(tailP * 100, "pct"),
      "job_samples" -> Metric(lat.size, "count"),
      "setup_cold_s" -> Metric(setups.head, "s"),
      "fail_ratio" -> Metric(ops.count(!_.ok).toDouble / ops.size, "ratio"))
    (m, extra)
  }

  /** Traced ÷ untraced time of the workload's op mix: per-kind median
    * latencies, weighted by each kind's op count.
    */
  def traceOverhead(ops: Seq[OpRec]): Double = {
    val both = ops.filter(_.ok).groupBy(_.kind)
      .filter { case (_, os) => os.exists(_.traced) && os.exists(!_.traced) }
    def weighted(traced: Boolean) = both.values.map { os =>
      os.size * Stats.median(os.filter(_.traced == traced).map(_.latency))
    }.sum
    if (both.isEmpty) Double.NaN else weighted(true) / weighted(false)
  }
}
