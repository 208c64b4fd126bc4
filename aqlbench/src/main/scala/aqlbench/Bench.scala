package aqlbench

import graft.aql.{Parser, Template}
import graft.engine.Aql
import org.apache.spark.sql.SparkSession

import java.nio.file.{Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One client operation: a script run, a statement or an HTTP call. */
final class OpRec(val id: Long, val kind: String, val round: Int,
    val traced: Boolean, val start: Double, val end: Double, val rows: Long) {
  @volatile var ok = true
  @volatile var err = ""
  def latency: Double = (end - start) / 1000.0
  def fail(msg: String): Unit = { ok = false; if (err.isEmpty) err = msg }
}

/** One closed-loop round: every client's operations between two barriers. */
final case class RoundRec(index: Int, traced: Boolean, start: Double,
    end: Double) {
  def wall: Double = (end - start) / 1000.0
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** State shared by the harness and the workload of one run. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long) {
  val tracer = new Tracer
  val counters = new SparkCounters
  val ops = new ConcurrentLinkedQueue[OpRec]()
  @volatile var round = -1 // < 0 while warming up: such ops are not kept

  def record(o: OpRec): OpRec = { if (round >= 0) ops.add(o); o }
  def opList: Seq[OpRec] = ops.asScala.toSeq

  /** Times the layers a script passes through before execution (template,
    * parse, validate) by calling their public entry points. Traced
    * operations only, and outside the operation's latency window.
    */
  def probeAqlLayers(op: Long, parent: Long, script: String,
      params: Map[String, String], baseDir: Path): Unit =
    if (tracer.on) {
      tracer.span("aql.parse", op, parent)(_ => Parser.parse(script))
      tracer.span("aql.template", op, parent)(_ =>
        Template.resolve(script, baseDir, params))
      tracer.span("aql.validate", op, parent)(_ =>
        Aql.validate(script, params, baseDir))
    }

  /** Aql.run under the op's span and job tag; returns the run's result. */
  def engineRun(op: Long, parent: Long, script: String,
      params: Map[String, String], baseDir: Path): Aql.RunResult = {
    val sc = spark.sparkContext
    val tag = tracer.on
    if (tag) sc.setLocalProperty("aqlbench.op", op.toString)
    try tracer.span("engine.run", op, parent) { runId =>
      // the engine reports each block's start and end to its logger;
      // while tracing they become engine.block spans
      val open = scala.collection.mutable.Map.empty[String, Double]
      val logger: (String, String, String) => Unit = (_, block, msg) =>
        if (tag) msg match {
          case "executing block" => open(block) = tracer.nowMs()
          case "block executed" => open.remove(block).foreach(t0 =>
            tracer.add(Span(tracer.nextId(), runId, op, s"engine.block.$block", t0, tracer.nowMs())))
          case _ => ()
        }
      Aql.run(spark, script, cliParams = params, baseDir = baseDir, logger = logger)
    } finally if (tag) sc.setLocalProperty("aqlbench.op", null)
  }

  /** One script run as client operation `kind`. Failures are recorded on
    * the op, never thrown: a failed op is part of the result.
    */
  def runScript(kind: String, script: String, params: Map[String, String],
      rows: Long, baseDir: Path = Paths.get(".")): OpRec = {
    val op = tracer.nextId()
    val rootId = tracer.nextId()
    val traced = tracer.on
    val t0 = tracer.nowMs()
    probeAqlLayers(op, rootId, script, params, baseDir)
    val s0 = tracer.nowMs()
    var err = ""
    try { engineRun(op, rootId, script, params, baseDir); () }
    catch { case e: Exception => err = Option(e.getMessage).getOrElse(e.toString) }
    val s1 = tracer.nowMs()
    tracer.add(Span(rootId, 0, op, s"op.$kind", t0, s1))
    val rec = record(new OpRec(op, kind, round, traced, s0, s1, rows))
    if (err.nonEmpty) rec.fail(err)
    rec
  }
}

/** A workload: input generation, closed-loop rounds and output checks. */
trait Workload {
  def name: String
  /** Kinds of op that are script runs ("jobs") for the end-to-end metrics. */
  def jobKinds: Set[String]
  /** Writes the inputs and returns the tables it wrote. */
  def prepare(ctx: Ctx): Seq[Inputs.Table]
  /** One closed-loop round; `ctx.round` holds its index. */
  def round(ctx: Ctx): Unit
  /** Unrecorded rounds before measuring, so that every plan the loop runs
    * has been compiled once.
    */
  def warmup(ctx: Ctx): Unit = round(ctx)
  /** Further unrecorded rounds until this many seconds of warm-up passed.
    * Op latency falls while the JIT compiles Spark's per-row code: the
    * etl_relational job takes 1.9 s at first, about 0.8 s after 16 s of
    * work and 0.6–0.7 s after 40 s.
    */
  def warmupSeconds: Double = 16
  /** Rounds the measured loop runs even when its seconds have passed. */
  def minRounds: Int = 1
  /** Checks every recorded op's output, failing the ops that are wrong. */
  def verify(ctx: Ctx): Unit
  /** Workload-specific end-to-end numbers, for the report only. */
  def report(ctx: Ctx): Seq[(String, Metric)] = Seq.empty
  /** Per-layer numbers the workload measures itself (index files, kernel
    * throughput). Traced run only.
    */
  def layers(ctx: Ctx): Map[String, Metric] = Map.empty
}
