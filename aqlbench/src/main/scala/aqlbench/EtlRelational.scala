package aqlbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** etl_relational: one client reruns the reference's core job — read a
  * parquet fact table and its dimensions, QUERY join/filter against a
  * GLOBAL scratch table, AGGREGATE, LOOKUP, write parquet. Spark scan,
  * shuffle and write do most of the work; verbs, the stored index and the
  * server are bypassed.
  */
final class EtlRelational extends Workload {
  val name = "etl_relational"
  val jobKinds = Set("etl")

  private val FactRows = 2000000L
  private val Customers = 2000
  private val Products = 2000
  private val Categories = 12
  private val Regions = 6
  private val FromDay = 30

  private var fact, cust, prod: Inputs.Table = _
  private var script = ""
  private var n = 0L
  private val outs = new Batch.Outputs

  def prepare(ctx: Ctx): Seq[Inputs.Table] = {
    val spark = ctx.spark
    val dir = ctx.work.resolve("in")
    def h(salt: Int) = xxhash64(col("id"), lit(ctx.seed), lit(salt))
    fact = Inputs.write(spark.range(0, FactRows, 1, Main.Cores).select(
      col("id").as("order_id"),
      pmod(h(1), lit(Customers.toLong)).as("cust_id"),
      pmod(h(2), lit(Products.toLong)).as("prod_id"),
      (pmod(h(3), lit(9L)) + 1).cast("int").as("qty"),
      (pmod(h(4), lit(10000L)) / 100.0 + 0.5).as("price"),
      pmod(h(5), lit(365L)).cast("int").as("day")), dir, "fact")
    cust = Inputs.write(spark.range(0, Customers, 1, 1).select(
      col("id").as("cust_id"),
      concat(lit("region-"), pmod(h(6), lit(Regions.toLong))).as("region"),
      concat(lit("name-"), col("id")).as("name")), dir, "customers")
    prod = Inputs.write(spark.range(0, Products, 1, 1).select(
      col("id").as("prod_id"),
      concat(lit("cat-"), pmod(h(7), lit(Categories.toLong))).as("category"),
      (pmod(h(8), lit(5000L)) / 100.0).as("unit_cost"),
      (pmod(h(9), lit(10L)) < 8).as("active")), dir, "products")
    script =
      s"""CONNECTION 'Fact' (DRIVER = 'file', FILE = '${fact.path}', FORMAT = 'parquet')
         |CONNECTION 'Cust' (DRIVER = 'file', FILE = '${cust.path}', FORMAT = 'parquet')
         |CONNECTION 'Prod' (DRIVER = 'file', FILE = '${prod.path}', FORMAT = 'parquet')
         |CONNECTION 'Out' (DRIVER = 'file', FILE = '{{ OutDir }}', FORMAT = 'parquet')
         |
         |QUERY 'Products' FROM CONNECTION Prod (
         |  SELECT prod_id, category, unit_cost FROM Prod WHERE active
         |) INTO GLOBAL WITH (TABLE = 'ActiveProducts')
         |
         |QUERY 'Sales' FROM CONNECTION Fact (
         |  SELECT f.cust_id, p.category, f.qty * f.price AS revenue,
         |         f.qty * p.unit_cost AS cost
         |  FROM Fact f JOIN ActiveProducts p ON f.prod_id = p.prod_id
         |  WHERE f.day >= {{ FromDay }}
         |)
         |
         |TRANSFORM 'Totals' FROM BLOCK Sales (
         |  AGGREGATE cust_id, category, SUM(revenue) AS revenue,
         |    SUM(cost) AS cost, COUNT(revenue) AS orders
         |  FROM Sales GROUP BY cust_id, category
         |)
         |
         |TRANSFORM 'Report' FROM BLOCK Totals, CONNECTION Cust (
         |  LOOKUP Totals.cust_id, Totals.category, Totals.revenue, Totals.cost,
         |    Totals.orders, Cust.region
         |  FROM Totals INNER JOIN Cust ON Totals.cust_id = Cust.cust_id
         |) INTO CONNECTION Out AFTER Products
         |""".stripMargin
    Seq(fact, cust, prod)
  }

  def round(ctx: Ctx): Unit = {
    n += 1
    val out = ctx.work.resolve(s"out/etl/op-$n").toString
    val op = ctx.runScript("etl", script,
      Map("OutDir" -> out, "FromDay" -> FromDay.toString),
      fact.rows + cust.rows + prod.rows)
    if (ctx.round >= 0) outs.add(n, op, out)
  }

  /** The job's answer as a plain DataFrame computation. */
  def expected(spark: SparkSession): DataFrame = {
    val f = spark.read.parquet(fact.path).where(col("day") >= FromDay)
    val p = spark.read.parquet(prod.path).where(col("active"))
    val c = spark.read.parquet(cust.path)
    f.join(p, "prod_id")
      .groupBy("cust_id", "category")
      .agg(sum(col("qty") * col("price")).as("revenue"),
        sum(col("qty") * col("unit_cost")).as("cost"),
        count(lit(1)).as("orders"))
      .join(c.select("cust_id", "region"), "cust_id")
  }

  private val Keys = Seq("cust_id", "category", "region")
  private val Values = Seq("revenue", "cost", "orders")

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val ok = outs.ok
    if (ok.isEmpty) return
    val exp = expected(spark).cache()
    // every op: row count and column sums match the expected frame's
    def sums(df: DataFrame) = Seq(count(lit(1)).as("rows")) ++
      Values.map(v => sum(col(v).cast("double")).as(v))
    val e = exp.agg(sums(exp).head, sums(exp).tail: _*).head()
    val got = Batch.readOps(spark, ok.map(_._3))
      .groupBy("op_").agg(sums(exp).head, sums(exp).tail: _*)
      .collect().map(r => Batch.long(r, "op_") -> r).toMap
    ok.foreach { case (n, op, _) =>
      got.get(n) match {
        case None => op.fail("no output rows")
        case Some(r) =>
          if (Batch.long(r, "rows") != e.getAs[Long]("rows"))
            op.fail(s"rows ${r.getAs[Long]("rows")} != ${e.getAs[Long]("rows")}")
          Values.foreach { v =>
            val (a, b) = (r.getAs[Double](v), e.getAs[Double](v))
            if (math.abs(a - b) > math.abs(b) * 1e-9)
              op.fail(s"sum($v) $a != $b")
          }
      }
    }
    // the last op, row by row
    val (_, lastOp, lastDir) = ok.last
    val bad = Checks.mismatches(spark.read.parquet(lastDir), exp, Keys, Values)
    if (bad > 0) lastOp.fail(s"$bad rows differ from the DataFrame computation")
    exp.unpersist()
  }
}
