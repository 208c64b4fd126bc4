package aqlbench

import graft.transforms.IndexManifest

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** index_lifecycle: a single writer builds a stored LSH index once
  * (INDEX … METHOD LSH, then INDEX MANIFEST), then repeats cycles of a
  * small APPEND, a DELETE, a stored NEARDEDUP probe and a stored KNN
  * JACCARD probe, each cycle closed by INDEX COMPACT. Writes beside reads
  * on the stored-index path, including driver-side file work.
  */
final class IndexLifecycle extends Workload {
  val name = "index_lifecycle"
  val jobKinds = Set("append", "delete", "probe", "knn", "compact")
  private val MutateKinds = Set("append", "delete")
  private val ProbeKinds = Set("probe", "knn")

  private val Words = 40
  private val Vocabulary = 8000
  private val BaseDocs = 2000
  private val MaxCycles = 100
  private val AppendPerCycle = 20
  private val DeletePerCycle = 10
  private val ProbeLive = 10     // near copies of live docs: dropped
  private val ProbeDeleted = 5  // near copies of just-deleted docs: kept
  private val ProbeFresh = 5
  private val KnnLive = 8
  private val KnnDeleted = 2
  private val Cells = 8

  private var base, appendPool, probePool, knnPool: Inputs.Table = _
  private var idx = ""
  private var buildS = Double.NaN
  private val textBytes = mutable.Map.empty[Long, Long]   // doc id -> input bytes
  private val deletedBy = mutable.Map.empty[Long, Int]    // doc id -> cycle
  private val hashOf = mutable.Map.empty[Long, Long]      // doc id -> content hash
  private val appendedIn = mutable.Map.empty[Int, Seq[Long]]
  private val deletedIn = mutable.Map.empty[Int, Seq[Long]]
  private val keptExpected = mutable.Map.empty[Int, Set[Long]]
  private val knnSource = mutable.Map.empty[Int, Map[Long, Long]]
  private var cycle = 0
  private val probeOuts = new Batch.Outputs
  private val knnOuts = new Batch.Outputs
  private val cycleOf = mutable.Map.empty[Long, Int]      // op number -> cycle
  private var n = 0L
  // traced statements: (kind, files written, bytes written, input bytes, manifest versions)
  private val writes = mutable.ArrayBuffer.empty[(String, Long, Long, Long, Long)]
  private val statementOps = mutable.Set.empty[Long]

  def prepare(ctx: Ctx): Seq[Inputs.Table] = {
    val spark = ctx.spark
    import spark.implicits._
    val r = Inputs.rng(ctx.seed, 3)
    val vocab = Inputs.vocabulary(r, Vocabulary)
    val docs = mutable.Map.empty[Long, Array[String]]
    def add(id: Long, d: Array[String]): Unit = {
      docs(id) = d; textBytes(id) = d.mkString(" ").getBytes("UTF-8").length + 8L }
    (1 to BaseDocs).foreach(i => add(i.toLong, Inputs.randomDoc(r, vocab, Words)))
    val order = new scala.util.Random(r.nextLong()).shuffle((1L to BaseDocs.toLong).toVector)
    val delCycle = order.take(MaxCycles * DeletePerCycle).zipWithIndex
      .map { case (id, i) => id -> i / DeletePerCycle }.toMap
    // replay the cycles on a model of the live set to fix every answer
    val live = mutable.LinkedHashSet.empty[Long] ++ (1L to BaseDocs.toLong)
    val apRows, prRows, knRows = mutable.ArrayBuffer.empty[(Int, Long, String)]
    var nextId = 100000L
    def pick(from: Seq[Long], k: Int): Seq[Long] =
      new scala.util.Random(r.nextLong()).shuffle(from).take(k)
    (0 until MaxCycles).foreach { c =>
      val ap = (1 to AppendPerCycle).map { _ =>
        nextId += 1; add(nextId, Inputs.randomDoc(r, vocab, Words)); nextId }
      appendedIn(c) = ap
      live ++= ap
      val del = delCycle.collect { case (id, dc) if dc == c => id }.toSeq.sorted
      deletedIn(c) = del
      live --= del
      del.foreach(deletedBy(_) = c)
      ap.foreach(id => apRows += ((c, id, docs(id).mkString(" "))))
      val liveSeq = live.toSeq
      def copyOf(src: Long): (Long, String) = {
        nextId += 1; nextId -> Inputs.nearCopy(r, vocab, docs(src), 1).mkString(" ") }
      val liveCopies = pick(liveSeq, ProbeLive).map(copyOf)
      val delCopies = pick(del, ProbeDeleted).map(copyOf)
      val fresh = (1 to ProbeFresh).map { _ =>
        nextId += 1; nextId -> Inputs.randomDoc(r, vocab, Words).mkString(" ") }
      (liveCopies ++ delCopies ++ fresh).foreach { case (id, t) => prRows += ((c, id, t)) }
      keptExpected(c) = (delCopies ++ fresh).map(_._1).toSet
      val knnSrc = pick(liveSeq, KnnLive)
      val knnLive = knnSrc.map(copyOf)
      val knnDel = pick(del, KnnDeleted).map(copyOf)
      (knnLive ++ knnDel).foreach { case (id, t) => knRows += ((c, id, t)) }
      knnSource(c) = knnLive.map(_._1).zip(knnSrc).toMap  // query -> source doc id
    }
    // stored KNN JACCARD names neighbours by the content hash of their text
    val hashes = Inputs.contentHash(spark, docs.values.map(_.mkString(" ")).toSeq)
    docs.foreach { case (id, d) => hashOf(id) = hashes(d.mkString(" ")) }
    val dir = ctx.work.resolve("in")
    base = Inputs.write((1L to BaseDocs.toLong).map(id =>
      (id, docs(id).mkString(" "), delCycle.getOrElse(id, -1)))
      .toDF("doc_id", "text", "del_cycle").repartition(1), dir, "base")
    def pool(rows: Seq[(Int, Long, String)], nm: String) =
      Inputs.write(rows.toDF("cycle", "doc_id", "text").repartition(1), dir, nm)
    appendPool = pool(apRows.toSeq, "append_pool")
    probePool = pool(prRows.toSeq, "probe_pool")
    knnPool = pool(knRows.toSeq, "knn_pool")

    idx = ctx.work.resolve("index").toString
    val t0 = System.nanoTime()
    graft.engine.Aql.run(spark,
      s"""CONNECTION 'Base' (DRIVER = 'file', FILE = '${base.path}', FORMAT = 'parquet')
         |TRANSFORM 'Built' FROM CONNECTION Base (
         |  INDEX ON text KEY doc_id METHOD LSH THRESHOLD 0.5 CELLS $Cells INTO '$idx'
         |) INTO CONSOLE""".stripMargin)
    buildS = (System.nanoTime() - t0) / 1e9
    graft.engine.Aql.run(spark, statement(s"INDEX MANIFEST '$idx'"))
    Seq(base, appendPool, probePool, knnPool)
  }

  private def statement(body: String) =
    s"""DATA 'One' ([[1]]) WITH (COLUMNS = 'X')
       |TRANSFORM 'S' FROM BLOCK One (
       |  $body
       |) INTO CONSOLE""".stripMargin

  private def mutation(pool: Inputs.Table, filter: String, suffix: String) =
    s"""CONNECTION 'Pool' (DRIVER = 'file', FILE = '${pool.path}', FORMAT = 'parquet')
       |QUERY 'Batch' FROM CONNECTION Pool (
       |  SELECT doc_id, text FROM Pool WHERE $filter = {{ Cycle }}
       |)
       |TRANSFORM 'S' FROM BLOCK Batch (
       |  INDEX ON text KEY doc_id METHOD LSH INTO '$idx' $suffix
       |) INTO CONSOLE""".stripMargin

  private def probe(pool: Inputs.Table, verb: String) =
    s"""CONNECTION 'Pool' (DRIVER = 'file', FILE = '${pool.path}', FORMAT = 'parquet')
       |CONNECTION 'Out' (DRIVER = 'file', FILE = '{{ OutDir }}', FORMAT = 'parquet')
       |QUERY 'Batch' FROM CONNECTION Pool (
       |  SELECT doc_id, text FROM Pool WHERE cycle = {{ Cycle }}
       |)
       |TRANSFORM 'Answer' FROM BLOCK Batch (
       |  $verb
       |) INTO CONNECTION Out""".stripMargin

  private lazy val appendScript = mutation(appendPool, "cycle", "APPEND")
  private lazy val deleteScript = mutation(base, "del_cycle", "DELETE")
  private lazy val probeScript = probe(probePool,
    s"NEARDEDUP Batch AGAINST STORED '$idx' ON text KEY doc_id THRESHOLD 0.5 METHOD LSH")
  private lazy val knnScript = probe(knnPool,
    s"KNN ON text KEY doc_id TOP 3 METHOD JACCARD THRESHOLD 0.5 STORED '$idx'")
  private lazy val compactScript = statement(s"INDEX COMPACT '$idx'")

  private def snapshot(): Map[Path, (Long, Long)] = {
    val s = Files.walk(java.nio.file.Paths.get(idx))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    finally s.close()
  }

  private def version(ctx: Ctx): Long =
    IndexManifest.version(ctx.spark, idx).getOrElse(0L)

  /** Runs one statement; while tracing, also records the files it wrote. */
  private def stmt(ctx: Ctx, kind: String, script: String, rows: Long,
      inBytes: Long, params: Map[String, String]): OpRec = {
    val traced = ctx.tracer.on && ctx.round >= 0
    val before = if (traced) snapshot() else Map.empty[Path, (Long, Long)]
    val v0 = if (traced) version(ctx) else 0L
    val op = ctx.runScript(kind, script, params + ("Cycle" -> cycle.toString), rows)
    if (traced) {
      val after = snapshot()
      val written = after.filter { case (p, st) => !before.get(p).contains(st) }
      writes += ((kind, written.size.toLong, written.values.map(_._1).sum, inBytes,
        version(ctx) - v0))
      statementOps += op.id
    }
    op
  }

  /** One round is one cycle. Whole cycles keep the statement mix fixed
    * (knn, compact < probe < append, delete), so the median falls inside
    * the probe mode, never between two modes.
    */
  def round(ctx: Ctx): Unit = {
    val c = cycle
    stmt(ctx, "append", appendScript, appendedIn(c).size,
      appendedIn(c).map(textBytes).sum, Map.empty)
    stmt(ctx, "delete", deleteScript, deletedIn(c).size,
      deletedIn(c).map(textBytes).sum, Map.empty)
    for ((kind, script, outs, rows) <- Seq(
        ("probe", probeScript, probeOuts, ProbeLive + ProbeDeleted + ProbeFresh),
        ("knn", knnScript, knnOuts, KnnLive + KnnDeleted))) {
      n += 1
      val out = ctx.work.resolve(s"out/$kind/op-$n").toString
      val op = stmt(ctx, kind, script, rows, 0L, Map("OutDir" -> out))
      if (ctx.round >= 0) { outs.add(n, op, out); cycleOf(n) = c }
    }
    stmt(ctx, "compact", compactScript, liveCount(c), 0L, Map.empty)
    cycle += 1
    require(cycle < MaxCycles, s"index_lifecycle ran out of its $MaxCycles planned cycles")
  }

  /** Statement latencies drift by under 10% after the first cycle, so the
    * warm-up is that one cycle.
    */
  override def warmupSeconds: Double = 0

  /** A cycle takes about 9 s, so a 10 s run measures 2 cycles, or 1 when
    * the machine is 10% slower. Two at least keep the sample count fixed.
    */
  override def minRounds: Int = 2

  private def liveCount(c: Int): Long =
    BaseDocs + (c + 1L) * AppendPerCycle - (c + 1L) * DeletePerCycle

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def read(outs: Batch.Outputs, cols: String*) =
      if (outs.ok.isEmpty) Map.empty[Long, Seq[org.apache.spark.sql.Row]]
      else Batch.readOps(spark, outs.ok.map(_._3))
        .select((cols :+ "op_").map(org.apache.spark.sql.functions.col): _*)
        .collect().toSeq.groupBy(r => Batch.long(r, "op_"))
    val kept = read(probeOuts, "doc_id")
    probeOuts.ok.foreach { case (k, op, _) =>
      Checks.sameIds(s"stored probe, cycle ${cycleOf(k)}",
        kept.getOrElse(k, Nil).map(Batch.long(_, "doc_id")),
        keptExpected(cycleOf(k))).foreach(op.fail)
    }
    val knn = read(knnOuts, "qid", "neighbor_id", "rank")
    knnOuts.ok.foreach { case (k, op, _) =>
      val c = cycleOf(k)
      val rows = knn.getOrElse(k, Nil).map(r =>
        (Batch.long(r, "qid"), Batch.long(r, "neighbor_id"), Batch.long(r, "rank").toInt))
      Checks.topNeighbours(s"stored knn, cycle $c", rows,
        knnSource(c).view.mapValues(hashOf).toMap,
        deletedBy.collect { case (id, dc) if dc <= c => hashOf(id) }.toSet).foreach(op.fail)
    }
  }

  private def liveInputBytes(): Long = {
    val gone = deletedBy.collect { case (id, dc) if dc < cycle => id }.toSet
    val ids = (1L to BaseDocs.toLong) ++ (0 until cycle).flatMap(appendedIn)
    ids.filterNot(gone).map(textBytes).sum
  }

  override def report(ctx: Ctx): Seq[(String, Metric)] = {
    val ops = ctx.opList.filter(o => o.ok && !o.traced)
    def lat(kinds: Set[String]) = ops.filter(o => kinds(o.kind)).map(_.latency)
    def tail(kinds: Set[String], nm: String) = {
      val (p, v) = Stats.tail(lat(kinds))
      Seq(s"${nm}_tail_s" -> Metric(v, "s"), s"${nm}_tail_percentile" -> Metric(p * 100, "pct"),
        s"${nm}_samples" -> Metric(lat(kinds).size, "count"))
    }
    Seq("build_s" -> Metric(buildS, "s"),
      "mutate_p50_s" -> Metric(Stats.median(lat(MutateKinds)), "s")) ++ tail(MutateKinds, "mutate") ++
      Seq("probe_p50_s" -> Metric(Stats.median(lat(ProbeKinds)), "s")) ++ tail(ProbeKinds, "probe") ++
      Seq("index_bytes_ratio" -> Metric(
        Inputs.bytesUnder(java.nio.file.Paths.get(idx)).toDouble / liveInputBytes(), "ratio"),
        "index_cycles" -> Metric(cycle, "count"))
  }

  override def layers(ctx: Ctx): Map[String, Metric] = {
    val stmts = math.max(writes.size, 1).toDouble
    val mut = writes.filter(w => MutateKinds(w._1))
    val comp = writes.filter(_._1 == "compact")
    val listing = ctx.counters.jobs.count(j => j.cls == "listing" && statementOps(j.op))
    val corpus = ctx.spark.read.parquet(base.path)
    Map(
      "index.listing_jobs" -> Metric(listing / stmts, "jobs/stmt"),
      "index.files_written" -> Metric(writes.map(_._2).sum / stmts, "files/stmt"),
      "index.bytes_written" -> Metric(writes.map(_._3).sum / stmts, "B/stmt"),
      "index.write_amp" -> Metric(
        if (mut.isEmpty) 0.0 else mut.map(_._3).sum.toDouble / mut.map(_._4).sum, "ratio"),
      "index.manifest_versions" -> Metric(writes.map(_._5).sum / stmts, "vers/stmt"),
      "index.compact_bytes_rewritten" -> Metric(
        if (comp.isEmpty) 0.0 else comp.map(_._3).sum.toDouble / comp.size, "B/compact"),
      "functions.minhash_rows_per_s" -> Metric(Batch.minhashRate(ctx.spark, corpus, 8), "rows/s"))
  }
}
