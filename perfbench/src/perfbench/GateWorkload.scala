package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Closed-loop passes over a fixed list of gates
  * (`graft.SparkEntry.queries`), one gate at a time, in an order the seed
  * shuffles anew for every pass.
  *
  * Each timed gate is two spans: `construct` (the gate function building
  * its DataFrame, which may already run Spark jobs — eager checkpoints,
  * table reads) and `action` (a noop-sink write, as graft.Bench does, so
  * every computed column is evaluated). The untimed warm pass writes each
  * gate's result as parquet instead, and perfbench/run.py compares those
  * files with the gate's DuckDB oracle (`SparkEntry.oracleSql`), written
  * next to them as `oracle_sql.json`. Noop passes follow until pass time
  * stops falling, so JIT and code-cache warm-up stay in set-up time.
  */
final class GateWorkload(seed: Long, gates: Seq[String], dataDir: String, dumpDir: String)
    extends Workload {
  import GateWorkload._

  private val queries = graft.SparkEntry.queries
  private val rnd = new scala.util.Random(seed)

  /** One pass: every gate once, in a fresh seeded order, each written to
    * the noop sink. */
  private def pass(spark: SparkSession, rec: Recorder, kind: String): Unit =
    rnd.shuffle(gates).foreach { g =>
      op(rec, g, kind) {
        val df = rec.span("construct", "construct")(queries(g)(spark, dataDir))
        rec.span("action", "action")(df.write.format("noop").mode("overwrite").save())
      }
    }

  def fixtures(spark: SparkSession, rec: Recorder): Unit = {
    val missing = gates.filterNot(graft.SparkEntry.oracleSql.contains)
    require(missing.isEmpty, s"gates without an oracle: ${missing.mkString(", ")}")
    Files.createDirectories(Paths.get(dumpDir))
    import Json._
    val oracles = obj(gates.map(g => g -> str(graft.SparkEntry.oracleSql(g))): _*)
    Files.write(Paths.get(dumpDir, "oracle_sql.json"), oracles.getBytes(UTF_8))
  }

  /** The dump pass, then noop passes until one is no more than
    * [[GateWorkload.WarmTolerance]] faster than the one before it, at most
    * [[GateWorkload.MaxWarmPasses]]. */
  def warm(spark: SparkSession, rec: Recorder): Unit = {
    gates.foreach { g =>
      op(rec, g, "warm_gate") {
        val df = rec.span("construct", "construct")(queries(g)(spark, dataDir))
        rec.span("action", "action")(
          df.write.mode("overwrite").parquet(s"$dumpDir/$g"))
      }
    }
    var last = Double.PositiveInfinity
    var falling = true
    var n = 0
    while (falling && n < MaxWarmPasses) {
      val t0 = rec.now()
      rec.span(s"warm_pass$n", "warm_pass")(pass(spark, rec, "warm_gate"))
      val t = rec.now() - t0
      falling = t < last * (1 - WarmTolerance)
      last = t
      n += 1
    }
  }

  /** Whole passes until `seconds` have elapsed, so every pass weighs each
    * gate once. */
  def measure(spark: SparkSession, rec: Recorder, seconds: Double): Unit = {
    val end = rec.now() + seconds * 1000
    var n = 0
    while (n == 0 || rec.now() < end) {
      rec.span(s"pass$n", "pass")(pass(spark, rec, "gate"))
      n += 1
    }
  }

  def finish(spark: SparkSession, rec: Recorder): Seq[(String, String)] = {
    val timed = rec.spansOf("gate")
    import Json._
    Seq(checksJson(timed.size, timed.count(!_.ok)),
      "gates" -> arr(gates.map(str)), "dump_dir" -> str(dumpDir))
  }
}

object GateWorkload {
  /** Search, text-statistics and vector gates. Each builds eager
    * `localCheckpoint`s while its DataFrame is constructed and reads its
    * inputs through `graft.Tables`. */
  val LlmOps: Seq[String] = Seq(
    "q_search_bm25", "q_search_tfidf", "q_text_pmi", "q_embed_neardup")

  /** A warm pass at most this share faster than the one before it counts
    * as steady. */
  val WarmTolerance = 0.05
  val MaxWarmPasses = 3
}
