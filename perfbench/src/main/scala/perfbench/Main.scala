package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** One op of a workload: a call sequence into the engine, timed as a
  * whole, with spans around each layer's calls. */
final case class Op(name: String, run: Trace => Unit)

/** A closed-loop workload: one client issues the next op only after the
  * previous one completed. */
trait Workload {
  /** Benchmark-side input files, written before the first set-up. */
  def prepareInputs(): Unit
  /** The program-side set-up, repeated and timed; each repeat replaces
    * the previous one's state. */
  def setup(): Unit
  /** Untimed ops that let caches fill and code warm up. */
  def warmUp(): Unit
  /** The ops of round `index`, in the order they run. */
  def round(index: Int): Seq[Op]
  /** Violated output invariants, checked after the timed rounds. */
  def check(): Seq[String]
  /** Workload-specific facts for the result record. */
  def results: Map[String, Any]
}

/** Runs one benchmark run in this JVM and writes its raw record (op
  * times, set-up times, heap samples, checks, and with tracing the spans,
  * jobs and planning phases) as one JSON file. `run.py` turns the record
  * into metrics.
  *
  * Usage: Main <workload> <seed> <rounds> <trace 0|1> <root> <inputs>
  * <out.json> [record-dir]. `root` is the run's scratch directory;
  * `inputs` holds the gate input tables, kept across runs because they
  * do not depend on the seed. With tracing, even rounds are traced and
  * odd ones not, so the record carries the tracing overhead. With
  * a record dir, the gate workload dumps its outputs for the DuckDB
  * oracle and exits. */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, roundsArg, traceArg, root, inputs, out) =
      args.take(7)
    val seed = seedArg.toLong
    val rounds = roundsArg.toInt
    val traced = traceArg == "1"
    // RunFs's redirect target: its top must exist, as /tmp does
    new File(s"$root/tmp").mkdirs()
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(root, cores)
    val w: Workload = workload match {
      case "daily_cycle" => new DailyCycle(spark, root, seed)
      case "gates" => new Gates(spark, inputs, seed)
      case other => sys.error(s"unknown workload $other")
    }
    phase("session_s")
    w.prepareInputs()
    phase("inputs_s")
    val setupS = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    phase("setups_s")
    if (args.length > 7) {
      val digests = w.asInstanceOf[Gates].record(args(7))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        Json(Map("digests" -> digests)))
      spark.stop()
      return
    }
    w.warmUp()
    val calibBefore = calibrate(spark, cores)
    phase("warmup_s")

    val recorder = if (traced) Some(new Recorder(spark)) else None
    val ops = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val heapMb = scala.collection.mutable.ArrayBuffer[Double]()
    val roundS = scala.collection.mutable.ArrayBuffer[Double]()
    // the live heap is sampled after every op, so every op starts on a
    // collected heap and the sample does not depend on the op order
    heapMb += liveHeapMb()
    for (r <- 0 until rounds) {
      val trace: Trace = recorder.filter(_ => r % 2 == 0).getOrElse(Trace.Off)
      recorder.filter(_ eq trace).foreach(_.attach())
      roundS += w.round(r).map { op =>
        val start = Trace.nowMs
        val error = try {
          trace.span("op:" + op.name)(op.run(trace)); None
        } catch { case e: Exception => Some(firstLine(e)) }
        val end = Trace.nowMs
        ops += Map("name" -> op.name, "round" -> r, "traced" -> (trace ne
          Trace.Off), "start" -> start, "end" -> end) ++
          error.map("error" -> _)
        heapMb += liveHeapMb()
        (end - start) / 1000.0
      }.sum
      recorder.filter(_ eq trace).foreach(_.detach())
    }
    phase("timed_s")
    val violations =
      try w.check() catch { case e: Exception => Seq(firstLine(e)) }
    val facts = w.results
    val calibAfter = calibrate(spark, cores)
    phase("check_s")
    val record = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "calib_s" -> Seq(calibBefore, calibAfter), "phases" -> phases,
      "setup_s" -> setupS, "round_s" -> roundS.toSeq,
      "heap_live_mb" -> heapMb.toSeq, "ops" -> ops.toSeq,
      "violations" -> violations) ++ facts ++
      recorder.map(_.records).getOrElse(Map.empty)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      Json(record))
    spark.stop()
  }

  /** The benchmark's session: every core of the machine, one shuffle
    * partition per core, and every directory Spark or a gate writes under
    * `root`. */
  def session(root: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop-tmp")
      .config("spark.ui.enabled", "false")
      // with Spark's default cache of 100 generated classes, a gate took
      // about twice as long and its time depended on which gate ran just
      // before it
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.hadoop.fs.file.impl", classOf[RunFs].getName)
      .config(s"spark.hadoop.${RunFs.TmpKey}", s"$root/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[RunFs], s"local file system is ${fs.getClass}")
    spark
  }

  /** Seconds for a fixed codegen'd range sum, best of two: a CPU speed
    * sample that makes runs on different machines or windows comparable.
    * The first sample of a run also compiles the query. */
  def calibrate(spark: SparkSession, cores: Int): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 200000000L, 1, cores).selectExpr("sum(id * 2 + 1)")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** JVM heap in use after a full collection, in MiB. Spark frees
    * broadcast and shuffle blocks only after a collection has shown their
    * owners unreachable, so a second collection follows a pause that lets
    * its cleaner run. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def firstLine(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse(e.getClass.getName)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File, keep: File => Boolean): Long =
    Option(f.listFiles()) match {
      case Some(kids) => kids.map(treeBytes(_, keep)).sum
      case None => if (keep(f)) f.length else 0L
    }
}

/** Minimal JSON rendering for the record: maps, sequences, strings,
  * numbers, booleans and null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
