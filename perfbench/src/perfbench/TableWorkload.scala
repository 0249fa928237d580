package perfbench

import scala.collection.mutable

import graft.acid.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A closed-loop mix of writes and reads on one fresh `GraftTable` keyed
  * by `k`, with min/max stats and a bloom filter on the key.
  *
  * The operation ORDER is a fixed cycle that ends with a compaction, so
  * every seed and every cycle weighs the same mix; the seed picks keys and
  * values. Deletes and updates take the table's default deletion-vector
  * path, and the log crosses several checkpoint intervals within a run.
  *
  * Every read is checked against an in-memory model of the table that
  * replays the same operations with plain Scala collections, and the final
  * snapshot is compared with the model row by row. A wrong read counts as
  * a failed operation.
  */
final class TableWorkload(seed: Long, root: String) extends Workload {
  import TableWorkload._

  private val rnd = new java.util.Random(seed)
  private val model = mutable.LongMap.empty[(Long, String)]
  private var nextKey = 0L
  private var commits = 0
  private var lastChangeRows = 0L
  private var inputBytes = 0L
  private var table: GraftTable = _
  private var spark: SparkSession = _
  private var cycleAt = 0

  private def str(): String = {
    val cs = Array.fill(12)(('a' + rnd.nextInt(26)).toChar)
    new String(cs)
  }

  private def frame(rows: Seq[(Long, Long, String)]): DataFrame = {
    inputBytes += rows.map(r => 16L + r._3.length).sum
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, v, s) => Row(k, v, s) }: _*), Schema)
  }

  private def committed(changeRows: Long): Unit = {
    commits += 1
    lastChangeRows = changeRows
  }

  /** Layout-only commit: the change feed serves it as empty. */
  private def compact(): Unit = {
    table.compact(4)
    committed(0L)
  }

  private def append(n: Int): Unit = {
    val rows = (0 until n).map { _ =>
      val k = nextKey; nextKey += 1
      (k, rnd.nextInt(1000000).toLong, str())
    }
    table.append(frame(rows))
    rows.foreach { case (k, v, s) => model(k) = (v, s) }
    committed(n)
  }

  private def merge(): Unit = {
    val old = Iterator.continually(rnd.nextLong(nextKey)).take(MergeRows / 2).toSeq.distinct
    val fresh = (0 until MergeRows / 2).map { _ => val k = nextKey; nextKey += 1; k }
    val rows = (old ++ fresh).map { k =>
      // a changed value even for existing keys, so every update is a change
      val v = model.get(k).map(_._1 + 1 + rnd.nextInt(100)).getOrElse(rnd.nextInt(1000000).toLong)
      (k, v, str())
    }
    table.merge(frame(rows), Seq("k"), Seq(col("v").desc))
    val updated = rows.count(r => model.contains(r._1))
    rows.foreach { case (k, v, s) => model(k) = (v, s) }
    committed(2L * updated + (rows.size - updated))
  }

  private def range(width: Int): (Long, Long) = {
    val lo = rnd.nextLong(math.max(1L, nextKey))
    (lo, lo + width - 1)
  }

  private def inRange(lo: Long, hi: Long): Seq[Long] = model.keys.filter(k => k >= lo && k <= hi).toSeq

  private def delete(): Unit = {
    val (lo, hi) = range(RangeWidth)
    table.delete(col("k").between(lo, hi))
    val gone = inRange(lo, hi)
    gone.foreach(model.remove)
    committed(gone.size)
  }

  private def update(): Unit = {
    val (lo, hi) = range(RangeWidth)
    table.update(col("k").between(lo, hi), Map("v" -> (col("v") + 1)))
    val hit = inRange(lo, hi)
    hit.foreach { k => val (v, s) = model(k); model(k) = (v + 1, s) }
    committed(2L * hit.size)
  }

  private def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new IllegalStateException(s"$what: got $got, want $want")

  private def point(): Unit = {
    val k = rnd.nextLong(math.max(1L, nextKey))
    val got = table.snapshotPoint(k).collect().map(r => (r.getLong(1), r.getString(2))).toSeq
    expect(s"point $k", got, model.get(k).toSeq)
  }

  private def scan(): Unit = {
    val (lo, hi) = range(ScanWidth)
    val r = table.snapshot().filter(col("k").between(lo, hi))
      .agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head()
    val keys = inRange(lo, hi)
    expect(s"scan [$lo,$hi]", (r.getLong(0), r.getLong(1)),
      (keys.size.toLong, keys.map(model(_)._1).sum))
  }

  private def feed(): Unit = {
    val v = table.latestVersion.get
    expect(s"change feed ${v - 1}->$v", table.changeFeed(v - 1, v).count(), lastChangeRows)
  }

  /** Five commits and eight reads; the change feed reads the merge. */
  private val cycle: Seq[(String, String, () => Unit)] = Seq(
    ("append", "write", () => append(AppendRows)),
    ("point", "read", () => point()),
    ("scan", "read", () => scan()),
    ("merge", "write", () => merge()),
    ("point", "read", () => point()),
    ("feed", "read", () => feed()),
    ("delete", "write", () => delete()),
    ("scan", "read", () => scan()),
    ("point", "read", () => point()),
    ("update", "write", () => update()),
    ("scan", "read", () => scan()),
    ("point", "read", () => point()),
    ("compact", "write", () => compact()))

  private def nextOp(rec: Recorder, kind: String): Unit = {
    val (name, side, f) = cycle(cycleAt % cycle.size)
    cycleAt += 1
    op(rec, name, s"$kind:$side")(f())
  }

  def fixtures(s: SparkSession, rec: Recorder): Unit = {
    spark = s
    table = new GraftTable(spark, root, statsCol = Some("k"), bloomCol = Some("k"))
    append(InitialRows)
  }

  /** One whole cycle, so no timed operation is the first of its kind in
    * the JVM. */
  def warm(s: SparkSession, rec: Recorder): Unit =
    do nextOp(rec, "warm_op") while (cycleAt % cycle.size != 0)

  /** Whole cycles until `seconds` have elapsed, so every run weighs the
    * operations alike. */
  def measure(s: SparkSession, rec: Recorder, seconds: Double): Unit = {
    val end = rec.now() + seconds * 1000
    do {
      do nextOp(rec, "op") while (cycleAt % cycle.size != 0)
    } while (rec.now() < end)
  }

  def finish(s: SparkSession, rec: Recorder): Seq[(String, String)] = {
    val timed = rec.spansOf("op:write") ++ rec.spansOf("op:read")
    val got = table.snapshot().collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val bad = (got.keySet ++ model.keySet).count(k => got.get(k) != model.get(k))
    if (bad > 0) errors += s"final snapshot: $bad of ${model.size} keys differ from the replay"
    val fs = new java.io.File(root)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val all = files(fs)
    val logFiles = files(new java.io.File(fs, "_log")).size
    import Json._
    Seq(checksJson(timed.size + 1, timed.count(!_.ok) + (if (bad > 0) 1 else 0)),
      "acid" -> obj("log_files" -> num(logFiles),
        "bytes_written" -> num(all.map(_.length).sum),
        "input_bytes" -> num(inputBytes),
        "versions" -> num(table.latestVersion.getOrElse(0L)),
        "rows" -> num(model.size)))
  }
}

object TableWorkload {
  val Schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("s", StringType, nullable = false)))
  val InitialRows = 2000
  val AppendRows = 200
  val MergeRows = 100
  val RangeWidth = 30
  val ScanWidth = 500
}
