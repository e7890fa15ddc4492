package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Synthetic input tables for the gate workloads, in the layout
  * `graft.Tables` loads: one parquet file `<dir>/<table>.parquet` per
  * table: a TPC-H-like star schema plus documents and embeddings.
  *
  * The value domains follow the engine's reference test data (25
  * `NATION_i` nations over 5 regions, 5 market segments, part names from
  * 8 adjectives × 8 nouns, a 30-word document vocabulary with ~5%
  * `" dup"` near-copies, unit-norm 64-dim embeddings), so every gate's
  * filters and joins select rows. Rows are drawn in the JVM from one
  * `SplittableRandom(seed)`: the same seed always gives the same files.
  */
object GateData {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Seq("blue", "cold", "hot", "large", "new", "old",
    "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
    "rod", "widget")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Seq("en" -> 0.44, "zh" -> 0.14, "de" -> 0.14,
    "fr" -> 0.14, "es" -> 0.14)

  /** Row counts: the sizes of the engine's sf0.01 test data. */
  private val n: Map[String, Int] = Map(
    "customer" -> 1500, "supplier" -> 100, "part" -> 2000,
    "orders" -> 15000, "lineitem" -> 60000,
    "documents" -> 500, "embeddings" -> 500)

  private val Day0 = java.time.LocalDate.parse("1995-01-01").toEpochDay

  /** Writes the tables into `dir` unless an earlier run already did; the
    * files appear under `dir` only once all are written. */
  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    if (new java.io.File(dir).isDirectory) return
    val tmp = s"$dir.tmp-${ProcessHandle.current.pid}"
    writeAll(spark, tmp, seed)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def writeAll(spark: SparkSession, dir: String, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed)
    def money(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def day(offset: Long): Timestamp = Timestamp.valueOf(
      java.time.LocalDate.ofEpochDay(Day0 + offset).atStartOfDay())
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = s"$dir/.$name"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Main.deleteTree(new java.io.File(tmp))
    }
    def schema(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (f, t) => StructField(f, t) })

    new java.io.File(dir).mkdirs()
    save("region", schema("r_regionkey" -> IntegerType,
      "r_name" -> StringType),
      Regions.zipWithIndex.map { case (r, i) => Row(i, r) })
    save("nation", schema("n_nationkey" -> IntegerType,
      "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
      (0 until n("customer")).map(i => Row(i.toLong, f"Customer#$i%09d",
        rnd.nextInt(25), money(-999.99, 9999.99), pick(Segments))))
    save("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until n("supplier")).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rnd.nextInt(25), money(-999.99, 9999.99))))
    save("part", schema("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until n("part")).map(i => Row(i.toLong,
        s"${pick(Adjectives)} ${pick(Nouns)}", s"Brand#${rnd.nextInt(25) + 1}",
        pick(PartTypes), rnd.nextInt(50) + 1, 900.0 + (i % 1000) / 10.0)))
    val orderDays = 2404 // 1995-01-01 .. 2001-08-01
    save("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until n("orders")).map(i => Row(i.toLong,
        rnd.nextInt(n("customer")).toLong, pick(Seq("F", "O", "P")),
        money(1000.0, 500000.0), day(rnd.nextInt(orderDays)),
        pick(Priorities))))
    save("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
      (0 until n("lineitem")).map(_ => Row(
        rnd.nextInt(n("orders")).toLong, rnd.nextInt(n("part")).toLong,
        rnd.nextInt(n("supplier")).toLong, rnd.nextInt(7) + 1,
        (rnd.nextInt(50) + 1).toDouble, money(900.0, 100000.0),
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        pick(Seq("A", "N", "R")), pick(Seq("F", "O")),
        day(1 + rnd.nextInt(orderDays + 95)))))
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    save("documents", schema("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until n("documents")).map { i =>
        val text =
          if (i > 10 && rnd.nextDouble() < 0.05)
            texts(rnd.nextInt(texts.size)) + " dup"
          else Seq.fill(10 + rnd.nextInt(90))(pick(Words)).mkString(" ")
        texts += text
        val u = rnd.nextDouble()
        val lang = Langs.scanLeft(("", 0.0)) { case ((_, c), (l, w)) =>
          (l, c + w) }.tail.find(_._2 > u).map(_._1).getOrElse("en")
        Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
      })
    save("embeddings", schema("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until n("embeddings")).map { i =>
        val v = Array.fill(64)(gaussian(rnd))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
      })
  }

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box-Muller on two uniforms; u1 is kept away from 0
    val u1 = 1.0 - rnd.nextDouble()
    val u2 = rnd.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}
