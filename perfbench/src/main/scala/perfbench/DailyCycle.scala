package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.datagen.DataGen
import graft.datedim.DateDim
import graft.pipelines.{BucketedDw, Pipelines}

/** The reference's daily cycle of four DAGs, one simulated day per op:
  * generate the day's source facts (`datagen`), extract the full dump and
  * the pipe-CSV star snapshot (`sources`), upsert the snapshot into the
  * bucketed DW fact (`pipelines`), then run the validation suite
  * (`validate`). The DW keeps growing over the run's days. The untimed
  * warm-up day loads a backlog of [[DailyCycle.WarmUpFacts]] sales, so a
  * timed day merges its delta into a target several times its size, and
  * a cost that grows with the target shows beside one that grows with
  * the delta.
  *
  * Each day after the first also re-sends part of the day before with
  * changed amounts, so the loader's UPDATE path runs beside INSERT. */
final class DailyCycle(spark: SparkSession, root: String, seed: Long)
    extends Workload {
  import DailyCycle._

  private var dims: Seq[DataFrame] = Nil
  private var days = 0
  private val loads = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
  private val invalid = scala.collection.mutable.ArrayBuffer[String]()

  private def factsPath(day: Int) = s"$root/source/facts_$day"

  def prepareInputs(): Unit = ()

  /** Generates and writes the product, store, distributor and date
    * dimensions into an empty source directory, sized so that the fact
    * grain (day, store, product, distributor) keeps about 99% of a day's
    * sales after dedupe. */
  def setup(): Unit = {
    Main.deleteTree(new java.io.File(s"$root/source"))
    val tables = Seq(
      "products" -> DataGen.products(spark, Products, seed),
      "stores" -> DataGen.stores(spark, Stores, seed + 1),
      "distributors" -> DataGen.distributors(spark, Distributors, seed + 2),
      "dates" -> DateDim.generate(spark, "2024-01-01", "2024-12-31"))
    dims = tables.map { case (name, df) =>
      val path = s"$root/source/$name"
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
  }

  /** The day's new sales plus the corrections: every 20th of the first
    * [[DailyCycle.FactsPerDay]] sales of the day before, read back from its
    * source files and re-sent with gross and net amounts raised by 1.00. */
  private def dayFacts(day: Int): DataFrame = {
    val Seq(products, stores, distributors, _) = dims
    val fresh = DataGen.factSales(spark,
      if (day == 0) WarmUpFacts else FactsPerDay, dateId(day),
      products, stores, distributors, seed + 3, day * KeysPerDay)
    if (day == 0) fresh
    else {
      val before = spark.read.parquet(factsPath(day - 1))
        .filter(col("date_id") === dateId(day - 1) &&
          col("sales_id") % 20 === 7 &&
          col("sales_id") <= (day - 1) * KeysPerDay + FactsPerDay)
      fresh.unionByName(Seq("gross_amount", "net_amount")
        .foldLeft(before) { (df, c) => df.withColumn(c,
          (col(c) + lit(BigDecimal(1))).cast(df.schema(c).dataType)) })
    }
  }

  private def dayOp(day: Int): Op = Op(s"day$day", t => {
    val facts = t.span("datagen") {
      dayFacts(day).write.mode("overwrite").parquet(factsPath(day))
      spark.read.parquet(factsPath(day))
    }
    val Seq(products, stores, distributors, dates) = dims
    val db = Pipelines.SourceDb(products, stores, distributors, dates, facts)
    t.span("sources") { Pipelines.extract(spark, db, root) }
    val (dw, stats) = t.span("pipelines") {
      BucketedDw.dwLoad(spark, db, s"$root/incoming/sales_snapshot", Table)
    }
    val failed = t.span("validate") {
      Pipelines.validationSuite(db, dw, dateId(day)).collect()
    }.filterNot(_.getAs[Boolean]("passed"))
    loads += stats
    failed.foreach(r => invalid += s"day $day: validation " +
      s"${r.getAs[String]("table")}.${r.getAs[String]("check")}" +
      s"(${r.getAs[String]("column")}) failed")
  })

  def warmUp(): Unit = { dayOp(0).run(Trace.Off); days = 1 }

  def round(index: Int): Seq[Op] = {
    days += 1
    Seq(dayOp(days - 1))
  }

  private var facts: Map[String, Any] = Map.empty

  /** The run's output invariants, computed from the generated source
    * facts outside the timed ops. Returns one message per violation. */
  def check(): Seq[String] = {
    val keys = Seq("date_id", "store_id", "product_id", "dist_id")
    val sent = (0 until days).map(d => spark.read.parquet(factsPath(d))
      .withColumn("day", lit(d))).reduce(_ unionByName _).cache()
    // the loader keeps the lowest sales_id per key within one snapshot,
    // and a later snapshot overwrites an earlier one
    val winners = sent
      .withColumn("rn", row_number().over(Window.partitionBy(
        (col("day") +: keys.map(col)): _*).orderBy(col("sales_id"))))
      .filter(col("rn") === 1)
      .withColumn("last", max(col("day")).over(
        Window.partitionBy(keys.map(col): _*)))
      .filter(col("day") === col("last"))
    val expect = winners.agg(count(lit(1)),
      sum(col("net_amount").cast("decimal(18,2)"))).head()
    val dw = spark.table(Table).agg(count(lit(1)),
      countDistinct(col("fact_key")), min(col("fact_key")),
      max(col("fact_key")), sum(col("net_amount").cast("decimal(18,2)")))
      .head()
    // per day: rows sent, and distinct keys re-sent for the day before
    val perDay = sent.groupBy("day").agg(count(lit(1)).as("rows"),
      countDistinct(when(col("date_id") =!= element_at(
        typedLit((0 until days).map(dateId)), col("day") + 1),
        struct(keys.map(col): _*))).as("resent"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    sent.unpersist()
    val rows = dw.getLong(0)
    facts = Map("days" -> days, "facts_per_day" -> FactsPerDay,
      "dw_rows" -> rows,
      "dw_bytes" -> Main.treeBytes(new java.io.File(s"$root/warehouse/$Table"),
        _.getName.endsWith(".parquet")),
      "snapshot_rows" -> (0 until days).map(perDay(_)._1),
      "loads" -> loads.toSeq)
    val invariants = Seq(
      (rows == expect.getLong(0)) ->
        s"DW rows $rows != distinct natural keys ${expect.getLong(0)}",
      (dw.getLong(1) == rows && dw.getLong(2) == 1 && dw.getLong(3) == rows)
        -> (s"fact_key not dense 1..$rows: distinct ${dw.getLong(1)}, " +
          s"min ${dw.getLong(2)}, max ${dw.getLong(3)}"),
      (dw.getDecimal(4) == expect.getDecimal(1)) ->
        s"DW net_amount ${dw.getDecimal(4)} != ${expect.getDecimal(1)}") ++
      (0 until days).map { d =>
        val updates = loads(d)("updates")
        (updates == perDay(d)._2) ->
          s"day $d: $updates updates for ${perDay(d)._2} re-sent keys"
      }
    invariants.collect { case (false, msg) => msg } ++ invalid
  }

  def results: Map[String, Any] = facts
}

object DailyCycle {
  /** New sales per timed day. A day's time is mostly a fixed cost of
    * about 100 Spark jobs (a 5 000-sale day took 10 to 15 s on 4 cores),
    * so the day is kept small enough that the warm-up day and a timed day
    * fit one run's time. */
  val FactsPerDay = 5000L
  /** Sales of the warm-up day: the DW's starting size. */
  val WarmUpFacts = 20000L
  val Products = 2000L
  val Stores = 300L
  val Distributors = 40L
  val Table = "fact_sales_dw"
  private val KeysPerDay = 100000000L

  def dateId(day: Int): Int =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toInt
}
