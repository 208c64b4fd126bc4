package aqlbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.engine.Aql
import graft.server.{ExecResult, HttpServerApp, Scheduler, TaskStore}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, regexp_extract}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import scala.collection.mutable

/** Server traffic: `clients` clients post to one in-process HttpServerApp,
  * wired as graft.Main's `serve` wires it, all sharing one SparkSession.
  * Each client repeats a cycle of five calls: three `/run` of a small
  * aggregate script, one `/run` of a small cosine KNN script (`KNN …
  * METHOD EXACT`, the vec_dot path) and one `/validate`. Every client uses
  * the same block names and writes its own parquet destination. Per-run
  * fixed cost and the shared session dominate; Spark execution does
  * little.
  *
  * server_mixed runs 4 clients at once. server_serial runs one client, so
  * no two runs overlap on the session.
  */
final class ServerMixed(val name: String, clients: Int) extends Workload {
  val jobKinds = Set("run", "knn")

  private val Buckets = 10
  private val RowsPerBucket = 2500
  private val Kinds = 8
  private val Vectors = 2000
  private val QueriesPerBucket = 10
  private val Dim = 32
  private val Noise = 0.05
  private val CallsPerRound = 5   // per client: run, run, knn, run, validate

  private var events, vecs, vecq: Inputs.Table = _
  // (client, bucket) -> kind -> (sum, count)
  private var expected = Map.empty[(Int, Int), Map[Int, (Double, Long)]]
  // (client, bucket) -> query vid -> source vid
  private var knnSource = Map.empty[(Int, Int), Map[Long, Long]]
  private var app: HttpServerApp = _
  private var port = 0
  private val pool = Executors.newFixedThreadPool(clients)
  private val httpClients = Array.fill(clients)(
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())
  private val mapper = new ObjectMapper()
  private val calls = Array.fill(clients)(0)
  // script -> (op, server.http span) so the server-side run joins its trace
  private val inFlight = new ConcurrentHashMap[String, (Long, Long)]()
  private val outs = mutable.ArrayBuffer.empty[(OpRec, Int, Int, String)]

  def prepare(ctx: Ctx): Seq[Inputs.Table] = {
    val spark = ctx.spark
    import spark.implicits._
    val r = Inputs.rng(ctx.seed, 4)
    val rows = for {
      c <- 0 until clients; b <- 0 until Buckets; _ <- 0 until RowsPerBucket
    } yield (c, b, r.nextInt(Kinds), r.nextInt(1000).toDouble)
    expected = rows.groupBy(x => (x._1, x._2)).view.mapValues(_.groupBy(_._3)
      .view.mapValues(xs => (xs.map(_._4).sum, xs.size.toLong)).toMap).toMap
    val dir = ctx.work.resolve("in")
    events = Inputs.write(rows.toDF("client", "bucket", "kind", "value")
      .repartition(1), dir, "events")

    val vs = (1 to Vectors).map(i => i.toLong -> Inputs.unitVector(r, Dim))
    val qs = for { c <- 0 until clients; b <- 0 until Buckets; i <- 0 until QueriesPerBucket } yield {
      val (src, v) = vs(r.nextInt(vs.size))
      val q = 100000L + (c * Buckets + b) * QueriesPerBucket + i
      (c, b, q, src, Inputs.normalize(v.map(_ + Noise * Inputs.gaussian(r))))
    }
    knnSource = qs.groupBy(q => (q._1, q._2)).view
      .mapValues(_.map(q => q._3 -> q._4).toMap).toMap
    vecs = Inputs.write(vs.toDF("vid", "emb").repartition(1), dir, "vectors")
    vecq = Inputs.write(qs.map(q => (q._1, q._2, q._3, q._5))
      .toDF("client", "bucket", "vid", "emb").repartition(1), dir, "vector_queries")

    val runInline: (String, Map[String, String]) => ExecResult = (script, params) => {
      val (op, parent) = Option(inFlight.get(script)).getOrElse((0L, 0L))
      try {
        val res = ctx.engineRun(op, parent, script, params, Paths.get("."))
        ExecResult(success = true, log = res.console.mkString("\n"), error = "")
      } catch {
        case e: Exception => ExecResult(success = false, log = "",
          error = Option(e.getMessage).getOrElse(e.toString))
      }
    }
    val store = new TaskStore(None)
    val scheduler = new Scheduler(store, (_, _) =>
      ExecResult(success = false, log = "", error = "no scheduled tasks"))
    app = new HttpServerApp(store, scheduler, runInline,
      s => Aql.validate(s, Map.empty, Paths.get(".")),
      ctx.work.resolve("repositories"))
    port = app.start(0)
    Seq(events, vecs, vecq)
  }

  private def conn(name: String, t: Inputs.Table) =
    s"CONNECTION '$name' (DRIVER = 'file', FILE = '${t.path}', FORMAT = 'parquet')"

  private def aggScript(client: Int, bucket: Int, out: String, valid: Boolean) =
    s"""${conn("Events", events)}
       |CONNECTION 'Out' (DRIVER = 'file', FILE = '$out', FORMAT = 'parquet')
       |QUERY 'Mine' FROM CONNECTION Events (
       |  SELECT kind, value FROM Events WHERE client = $client AND bucket = $bucket
       |)
       |TRANSFORM 'Totals' FROM BLOCK Mine (
       |  AGGREGATE kind, SUM(value) AS total, COUNT(value) AS n FROM Mine GROUP BY kind
       |)
       |QUERY 'Report' FROM BLOCK ${if (valid) "Totals" else "Missing"} (
       |  SELECT kind, total, n FROM Totals
       |) INTO CONNECTION Out
       |""".stripMargin

  private def knnScript(client: Int, bucket: Int, out: String) =
    s"""${conn("Vecs", vecs)}
       |${conn("VecQ", vecq)}
       |CONNECTION 'Out' (DRIVER = 'file', FILE = '$out', FORMAT = 'parquet')
       |QUERY 'Mine' FROM CONNECTION VecQ (
       |  SELECT vid, emb FROM VecQ WHERE client = $client AND bucket = $bucket
       |)
       |QUERY 'Corpus' FROM CONNECTION Vecs (SELECT vid, emb FROM Vecs)
       |TRANSFORM 'Report' FROM BLOCK Mine, BLOCK Corpus (
       |  KNN Mine WITH Corpus ON emb KEY vid TOP 3 METHOD EXACT
       |) INTO CONNECTION Out
       |""".stripMargin

  private def post(client: Int, path: String, script: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val body = mapper.writeValueAsString(java.util.Map.of("script", script))
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = httpClients(client).send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  private def call(ctx: Ctx, client: Int): Unit = {
    val i = calls(client)
    calls(client) += 1
    val bucket = (i + client) % Buckets
    val op = ctx.tracer.nextId()
    val rootId = ctx.tracer.nextId()
    val traced = ctx.tracer.on
    val out = ctx.work.resolve(s"out/server/c$client-r$i").toString
    val kind = i % CallsPerRound match {
      case 2 => "knn"
      case 4 => "validate"
      case _ => "run"
    }
    val isValidate = kind == "validate"
    val valid = !isValidate || (i / CallsPerRound) % 2 == 0
    val text =
      if (kind == "knn") knnScript(client, bucket, out)
      else aggScript(client, bucket, out, valid)
    val t0 = ctx.tracer.nowMs()
    ctx.probeAqlLayers(op, rootId, text, Map.empty, Paths.get("."))
    val httpId = ctx.tracer.nextId()
    inFlight.put(text, (op, httpId))
    val s0 = ctx.tracer.nowMs()
    val res = scala.util.Try(post(client, if (isValidate) "/validate" else "/run", text))
    val s1 = ctx.tracer.nowMs()
    inFlight.remove(text)
    ctx.tracer.add(Span(httpId, rootId, op, "server.http", s0, s1))
    ctx.tracer.add(Span(rootId, 0, op, s"op.$kind", t0, s1))
    val rows = kind match {
      case "run" => events.rows
      case "knn" => vecs.rows + vecq.rows
      case _ => 0L
    }
    val rec = ctx.record(new OpRec(op, kind, ctx.round, traced, s0, s1, rows))
    res match {
      case scala.util.Failure(e) => rec.fail(s"http: ${e.getMessage}")
      case scala.util.Success((code, json)) =>
        val ok = json.path("success").asBoolean(false)
        if (code != 200) rec.fail(s"http $code: ${json.path("error").asText("")}")
        else if (isValidate && ok != valid)
          rec.fail(s"/validate said success=$ok for a ${if (valid) "valid" else "invalid"} script")
        else if (!isValidate && !ok) rec.fail(s"/run failed: ${json.path("error").asText("")}")
        else if (!isValidate && ctx.round >= 0) outs.synchronized {
          outs += ((rec, client, bucket, out)) }
    }
  }

  /** The small scripts settle after about 30 calls (14 s of work). */
  override def warmupSeconds: Double = 14

  def round(ctx: Ctx): Unit = {
    val fs = (0 until clients).map { c =>
      pool.submit(new Runnable {
        def run(): Unit = (1 to CallsPerRound).foreach(_ => call(ctx, c))
      })
    }
    fs.foreach(_.get())
  }

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
    app.stop()
    val ok = outs.filter(o => o._1.ok && Files.isDirectory(Paths.get(o._4)))
    outs.filterNot(o => Files.isDirectory(Paths.get(o._4))).foreach(_._1.fail("no output written"))
    if (ok.isEmpty) return
    // outputs are named c<client>-r<call>; read them all in one job. A
    // destination may hold the other script's columns when runs clobber
    // each other, so the schemas are merged and absent columns read null
    val got = spark.read.option("mergeSchema", "true").parquet(ok.map(_._4).toSeq: _*)
      .withColumn("dir", regexp_extract(col("_metadata.file_path"), "/(c[0-9]+-r[0-9]+)/", 1))
      .collect().toSeq.groupBy(_.getAs[String]("dir"))
    def num(r: Row, c: String): Option[Double] =
      if (!r.schema.fieldNames.contains(c) || r.isNullAt(r.fieldIndex(c))) None
      else Some(r.getAs[Any](c).asInstanceOf[Number].doubleValue)
    ok.foreach { case (rec, client, bucket, out) =>
      val rows = got.getOrElse(Paths.get(out).getFileName.toString, Nil)
      if (rec.kind == "knn") {
        val triples = rows.flatMap(r => for {
          q <- num(r, "qid"); nb <- num(r, "neighbor_id"); k <- num(r, "rank")
        } yield (q.toLong, nb.toLong, k.toInt))
        val problems = Checks.topNeighbours(s"client $client bucket $bucket knn",
          triples, knnSource((client, bucket)))
        if (triples.size != rows.size) rec.fail(s"client $client bucket $bucket knn: " +
          s"${rows.size - triples.size} destination rows are not neighbour rows")
        problems.foreach(rec.fail)
      } else {
        val totals = rows.flatMap(r => for {
          k <- num(r, "kind"); t <- num(r, "total"); n <- num(r, "n")
        } yield k.toInt -> (t, n.toLong))
        val want = expected((client, bucket))
        if (totals.size != rows.size || totals.size != want.size || totals.toMap != want) {
          // name whose rows it holds instead, if they are another client's
          val other = expected.collectFirst { case (k, v) if v == totals.toMap => k }
          rec.fail(s"client $client bucket $bucket: destination does not hold the " +
            s"client's ${want.size} expected rows" + other.fold("")(k =>
              s"; it holds exactly the rows of client ${k._1} bucket ${k._2}"))
        }
      }
    }
  }

  override def report(ctx: Ctx): Seq[(String, Metric)] = {
    val ops = ctx.opList.filter(o => !o.traced)
    val runs = ops.filter(o => o.ok && jobKinds(o.kind)).map(_.latency)
    def p50(kind: String) = {
      val l = ops.filter(o => o.ok && o.kind == kind).map(_.latency)
      if (l.isEmpty) Double.NaN else Stats.median(l)
    }
    val (p, v) = Stats.tail(runs)
    Seq("run_p50_s" -> Metric(Stats.median(runs), "s"),
      "run_tail_s" -> Metric(v, "s"), "run_tail_percentile" -> Metric(p * 100, "pct"),
      "run_samples" -> Metric(runs.size, "count"),
      "knn_p50_s" -> Metric(p50("knn"), "s"),
      "validate_p50_s" -> Metric(p50("validate"), "s"),
      "wrong_or_failed_runs" -> Metric(ops.count(o => jobKinds(o.kind) && !o.ok), "count"))
  }

  override def layers(ctx: Ctx): Map[String, Metric] = {
    val spark = ctx.spark
    Map("functions.vecdot_rows_per_s" -> Metric(
      Batch.vecdotRate(spark, spark.read.parquet(vecs.path), spark.read.parquet(vecq.path)), "rows/s"))
  }
}
