package aqlbench

import org.apache.spark.sql.functions._

import scala.collection.mutable

/** curate_inplan: one client reruns a curation script over a generated
  * corpus with planted near-duplicate groups: in-plan NEARDEDUP (LSH),
  * NEARDEDUP … AGAINST, and in-plan KNN by Jaccard and by cosine, each
  * written INTO parquet. It exercises the in-plan localCheckpoint paths
  * and the MinHash/vector kernels; etl_relational is its bypass.
  */
final class CurateInplan extends Workload {
  val name = "curate_inplan"
  val jobKinds = Set("curate")

  private val Words = 40
  private val Vocabulary = 8000
  private val Groups = 100        // a base doc and 1–2 near copies each
  private val Singletons = 1200
  private val NearBatch = 100     // near copies of singleton corpus docs
  private val FreshBatch = 100
  private val Vectors = 2000
  private val VecQueries = 100
  private val Dim = 32
  private val Noise = 0.05

  private var docs, batch, vecs, vecq: Inputs.Table = _
  private var groups: Seq[Seq[Long]] = Nil
  private var singletons = Set.empty[Long]
  private var freshIds = Set.empty[Long]
  private var textSource = Map.empty[Long, Long]
  private var vecSource = Map.empty[Long, Long]
  private var script = ""
  private var rows = 0L
  private var n = 0L
  private val outs = new Batch.Outputs
  private val Outputs = Seq("survivors", "kept", "textknn", "vecknn")

  def prepare(ctx: Ctx): Seq[Inputs.Table] = {
    val spark = ctx.spark
    import spark.implicits._
    val r = Inputs.rng(ctx.seed, 2)
    val vocab = Inputs.vocabulary(r, Vocabulary)
    // corpus ids are a shuffled range so that group members are not adjacent
    val ids = new scala.util.Random(r.nextLong()).shuffle((1L to 2000L).toVector).iterator
    val corpus = mutable.ArrayBuffer.empty[(Long, Array[String])]
    groups = (1 to Groups).map { _ =>
      val base = Inputs.randomDoc(r, vocab, Words)
      val members = base +: Seq.fill(1 + r.nextInt(2))(Inputs.nearCopy(r, vocab, base, 1))
      members.map { d => val id = ids.next(); corpus += id -> d; id }
    }
    val single = (1 to Singletons).map { _ =>
      val id = ids.next(); val d = Inputs.randomDoc(r, vocab, Words); corpus += id -> d; id -> d
    }
    singletons = single.map(_._1).toSet
    val sources = single.take(NearBatch)
    val near = sources.zipWithIndex.map { case ((src, d), i) =>
      (100000L + i, src, Inputs.nearCopy(r, vocab, d, 1)) }
    // KNN JACCARD names neighbours by the content hash of their text
    val srcText = sources.map { case (id, d) => id -> d.mkString(" ") }.toMap
    val hashOf = Inputs.contentHash(spark, srcText.values.toSeq)
    textSource = near.map { case (q, s, _) => q -> hashOf(srcText(s)) }.toMap
    val fresh = (1 to FreshBatch).map(i => 200000L + i -> Inputs.randomDoc(r, vocab, Words))
    freshIds = fresh.map(_._1).toSet

    val vs = (1 to Vectors).map(i => i.toLong -> Inputs.unitVector(r, Dim))
    val qs = (1 to VecQueries).map { i =>
      val (src, v) = vs(r.nextInt(vs.size))
      (100000L + i, src, Inputs.normalize(v.map(_ + Noise * Inputs.gaussian(r))))
    }
    vecSource = qs.map { case (q, s, _) => q -> s }.toMap

    val dir = ctx.work.resolve("in")
    docs = Inputs.write(Inputs.docsFrame(spark, corpus.map { case (i, d) => i -> d.mkString(" ") }.toSeq), dir, "corpus")
    batch = Inputs.write(Inputs.docsFrame(spark,
      near.map { case (q, _, d) => q -> d.mkString(" ") } ++ fresh.map { case (i, d) => i -> d.mkString(" ") }),
      dir, "batch")
    vecs = Inputs.write(vs.toDF("vid", "emb").repartition(1), dir, "vectors")
    vecq = Inputs.write(qs.map { case (q, _, v) => q -> v }.toDF("vid", "emb").repartition(1), dir, "vector_queries")
    rows = docs.rows + batch.rows + vecs.rows + vecq.rows

    def conn(name: String, t: Inputs.Table) =
      s"CONNECTION '$name' (DRIVER = 'file', FILE = '${t.path}', FORMAT = 'parquet')"
    def out(name: String) =
      s"CONNECTION 'Out_$name' (DRIVER = 'file', FILE = '{{ OutDir }}/$name/op-{{ Op }}', FORMAT = 'parquet')"
    script =
      s"""${conn("Docs", docs)}
         |${conn("Probe", batch)}
         |${conn("Vecs", vecs)}
         |${conn("VecQ", vecq)}
         |${Outputs.map(out).mkString("\n")}
         |
         |QUERY 'Corpus' FROM CONNECTION Docs (SELECT doc_id, text FROM Docs)
         |QUERY 'Batch' FROM CONNECTION Probe (SELECT doc_id, text FROM Probe)
         |QUERY 'VCorpus' FROM CONNECTION Vecs (SELECT vid, emb FROM Vecs)
         |QUERY 'VBatch' FROM CONNECTION VecQ (SELECT vid, emb FROM VecQ)
         |
         |TRANSFORM 'Survivors' FROM BLOCK Corpus (
         |  NEARDEDUP ON text KEY doc_id THRESHOLD 0.5 METHOD LSH
         |) INTO CONNECTION Out_survivors
         |
         |TRANSFORM 'Kept' FROM BLOCK Batch, BLOCK Corpus (
         |  NEARDEDUP Batch AGAINST Corpus ON text KEY doc_id THRESHOLD 0.5 METHOD LSH
         |) INTO CONNECTION Out_kept
         |
         |TRANSFORM 'TextKnn' FROM BLOCK Batch, BLOCK Corpus (
         |  KNN Batch WITH Corpus ON text KEY doc_id TOP 3 METHOD JACCARD THRESHOLD 0.5
         |) INTO CONNECTION Out_textknn
         |
         |TRANSFORM 'VecKnn' FROM BLOCK VBatch, BLOCK VCorpus (
         |  KNN VBatch WITH VCorpus ON emb KEY vid TOP 3 METHOD EXACT
         |) INTO CONNECTION Out_vecknn
         |""".stripMargin
    Seq(docs, batch, vecs, vecq)
  }

  def round(ctx: Ctx): Unit = {
    n += 1
    val base = ctx.work.resolve("out/curate").toString
    val op = ctx.runScript("curate", script,
      Map("OutDir" -> base, "Op" -> n.toString), rows)
    if (ctx.round >= 0) outs.add(n, op, base)
  }

  def verify(ctx: Ctx): Unit = {
    val ok = outs.ok
    if (ok.isEmpty) return
    val spark = ctx.spark
    def read(what: String, cols: String*): Map[Long, Seq[org.apache.spark.sql.Row]] =
      Batch.readOps(spark, ok.map { case (k, _, b) => s"$b/$what/op-$k" })
        .select((cols :+ "op_").map(col): _*).collect().toSeq
        .groupBy(r => Batch.long(r, "op_"))
    val surv = read("survivors", "doc_id")
    val kept = read("kept", "doc_id")
    val tknn = read("textknn", "qid", "neighbor_id", "rank")
    val vknn = read("vecknn", "qid", "neighbor_id", "rank")
    def triples(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r =>
      (Batch.long(r, "qid"), Batch.long(r, "neighbor_id"), Batch.long(r, "rank").toInt))
    ok.foreach { case (k, op, _) =>
      val problems =
        Checks.survivors(surv.getOrElse(k, Nil).map(Batch.long(_, "doc_id")), groups, singletons) ++
          Checks.sameIds("kept", kept.getOrElse(k, Nil).map(Batch.long(_, "doc_id")), freshIds) ++
          Checks.topNeighbours("text knn", triples(tknn.getOrElse(k, Nil)), textSource) ++
          Checks.topNeighbours("vector knn", triples(vknn.getOrElse(k, Nil)), vecSource)
      problems.foreach(op.fail)
    }
  }

  override def layers(ctx: Ctx): Map[String, Metric] = {
    val spark = ctx.spark
    Map(
      "functions.minhash_rows_per_s" -> Metric(
        Batch.minhashRate(spark, spark.read.parquet(docs.path), 8), "rows/s"),
      "functions.vecdot_rows_per_s" -> Metric(
        Batch.vecdotRate(spark, spark.read.parquet(vecs.path), spark.read.parquet(vecq.path)), "rows/s"))
  }
}
