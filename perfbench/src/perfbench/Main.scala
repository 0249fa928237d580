package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: build the session with graft.Bench's
  * configuration, set the workload up, measure it for the given seconds,
  * check its outputs, and write the run record (see [[Recorder]]) to
  * `--out`. perfbench/run.py turns that record into metrics.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <input dir> --out <record file> --work <work dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val rec = new Recorder(opts("trace") == "1")
    val work = opts("work")
    val workload: Workload = opts("workload") match {
      case "llm_ops"     =>
        new GateWorkload(seed, GateWorkload.LlmOps, opts("data"), s"$work/gates")
      case "table_ops"   => new TableWorkload(seed, s"$work/table")
      case "flight_feed" => new FeedWorkload(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val extra = rec.span("run", "run") {
      val spark = rec.span("session", "setup")(session())
      rec.install(spark)
      rec.span("fixtures", "setup")(workload.fixtures(spark, rec))
      rec.span("warm", "setup")(workload.warm(spark, rec))
      // the warm pass leaves shuffle and checkpoint blocks that the
      // ContextCleaner frees only after a GC; collect them before timing
      System.gc()
      rec.startWindow()
      workload.measure(spark, rec, seconds)
      rec.endWindow()
      val checks = workload.finish(spark, rec)
      rec.drain()
      rec.uninstall()
      spark.stop()
      checks
    }
    Files.write(Paths.get(opts("out")), rec.toJson(extra).getBytes(UTF_8))
  }

  /** graft.Bench's session: local[cores], one shuffle partition per core,
    * AQE on, a code-generation cache sized for the whole gate suite, UTC. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** A workload: fixtures and a warm pass (both set-up time), a measured
  * region of closed-loop or open-loop operations, and output checks.
  * `finish` returns extra JSON fields for the run record, including a
  * `checks` object with `attempted`, `failed` and `errors`. */
trait Workload {
  def fixtures(spark: SparkSession, rec: Recorder): Unit
  def warm(spark: SparkSession, rec: Recorder): Unit
  def measure(spark: SparkSession, rec: Recorder, seconds: Double): Unit
  def finish(spark: SparkSession, rec: Recorder): Seq[(String, String)]

  /** Errors seen by operations and checks, one line each. */
  protected val errors = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Run one operation as a span of `kind`; a thrown error marks the span
    * failed and is kept as an error line instead of ending the run. */
  protected def op(rec: Recorder, name: String, kind: String)(f: => Unit): Unit =
    try rec.span(name, kind)(f)
    catch { case e: Exception =>
      errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }

  protected def checksJson(attempted: Long, failed: Long): (String, String) = {
    import Json._
    "checks" -> obj("attempted" -> num(attempted), "failed" -> num(failed),
      "errors" -> arr(errors.toSeq.take(20).map(str)))
  }
}
