package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{CacheScope, SparkEntry, Tables, Verify}

/** The gates workload: rounds over a few of the engine's gates, each
  * round in a seed-shuffled order. A gate execution is one op; it runs
  * the gate's plan to completion through Spark's `noop` sink, so no
  * Catalyst pruning of unused columns or sorts shortens it. Each gate's
  * output is digested once per run, in the first of two untimed warm-up
  * rounds; the ops of the round after it still ran about 20% slower than
  * later ones.
  *
  * A store gate lays its store down under `/tmp` when its plan is built;
  * the session's [[RunFs]] puts that tree under the run's directory. */
final class Gates(spark: SparkSession, dataDir: String, seed: Long)
    extends Workload {
  import Gates._

  private var digests = Map.empty[String, Map[String, Any]]

  def prepareInputs(): Unit = GateData.write(spark, dataDir, DataSeed)

  /** Opens every input table, which reads and validates its schema. */
  def setup(): Unit =
    GateData.Tables.foreach(t => Tables.load(spark, dataDir, t).schema)

  private def plan(gate: String): DataFrame =
    SparkEntry.queries(gate)(spark, dataDir)

  def warmUp(): Unit = {
    digests = mix.map { case (gate, _) =>
      gate -> (try {
        val (d, n) = CacheScope.withScope(_ => Verify.digest(plan(gate)))
        Map("digest" -> d, "rows" -> n)
      } catch { case e: Exception =>
        Map("error" -> Main.firstLine(e))
      })
    }.toMap
    round(-1).foreach(op => scala.util.Try(op.run(Trace.Off)))
  }

  def round(index: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + index).shuffle(mix).map {
      case (gate, layer) => Op(gate, t => t.span(layer) {
        CacheScope.withScope { _ =>
          plan(gate).write.format("noop").mode("overwrite").save()
        }
      })
    }

  def check(): Seq[String] = Nil

  def results: Map[String, Any] = Map("digests" -> digests)

  /** Dumps each gate's output as parquet plus its oracle SQL, in the
    * layout `tools/check.py` compares against DuckDB, and returns the
    * digests. */
  def record(outDir: String): Map[String, Any] = {
    mix.foreach { case (gate, _) =>
      CacheScope.withScope { _ =>
        plan(gate).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$gate")
      }
    }
    val oracles = mix.map(_._1).flatMap(g =>
      SparkEntry.oracleSql.get(g).map(g -> _)).toMap
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), Json(oracles))
    warmUp()
    digests
  }
}

object Gates {
  /** The gate inputs are fixed: the run's seed shuffles the gate order,
    * so the expected digests in `expected_digests.json` hold for every
    * run. */
  val DataSeed = 20240101L

  /** Gate and layer: a star-schema query whose time is mostly job
    * scheduling and planning, a corpus kernel, and an on-disk store
    * lifecycle. */
  val mix: Seq[(String, String)] = Seq("q8_market_share" -> "queries",
    "t8_bm25_search" -> "operators", "ann5_store_topk" -> "stores")
}
