package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable

import graft.flights.Flights
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's own workload: flight positions arrive as CSV lines (the
  * `FlightFixtures.line` shape), and two stateful
  * `Flights.showTempView(Flights.trackSnapshots(...))` queries read the
  * feed, as in `FlightReplayDemo` — one over every position, one over the
  * high-altitude positions only.
  *
  * Each query reads its own `MemoryStream`, fed the same chunks: a
  * MemoryStream drops its buffered rows as soon as ANY reader commits
  * them, so a second query sharing it reads misaligned slices and loses
  * rows (seen as tracks whose view disagrees with the feed).
  *
  * Every track reports one position per second of flight time, as in the
  * reference feed (`FlightSim.csv`: 9 flights, 81 positions over 9 s); the
  * benchmark flies [[FeedWorkload.Tracks]] tracks, in an order the seed
  * shuffles each round, and the seed picks each position's altitude.
  *
  * After a warm feed and a warm burst, an open-loop generator thread
  * sends each round (every track's next position) as
  * [[FeedWorkload.ChunksPerRound]] chunks spread evenly over its second,
  * one `addData` call (one MemoryStream offset) per stream per chunk.
  * Each chunk is recorded with its offset and the due times of its first
  * and last event; perfbench/run.py joins offsets to the batches that
  * committed them (the progress events' `endOffset`) to get each event's
  * latency from when it was due. Once the feed is drained,
  * [[FeedWorkload.Bursts]] bursts of [[FeedWorkload.BurstRounds]] rounds
  * each arrive, one at a time, each processed to the end; the batches
  * that absorb them give the pipeline's capacity in events per second.
  *
  * At the end both views are compared with the generator's own newest
  * (up to [[FeedWorkload.TrackCap]]) positions of every track.
  */
final class FeedWorkload(seed: Long) extends Workload {
  import FeedWorkload._

  private val rnd = new scala.util.Random(seed)
  private val perTrack = Array.fill(Tracks)(0)
  private var order: Seq[Int] = Nil
  private var emitted = 0L
  private var burstAt = 0.0
  private val newestAll = Array.fill(Tracks)(mutable.Queue.empty[Pos])
  private val newestHigh = Array.fill(Tracks)(mutable.Queue.empty[Pos])
  private val chunks = mutable.ArrayBuffer.empty[String]
  @volatile private var windowSent = 0L
  private var inputs: Seq[MemoryStream[String]] = Nil
  private var queries: Seq[StreamingQuery] = Nil

  private val fmt = DateTimeFormatter.ofPattern("M/d/yyyy hh:mm:ss a", Locale.US)
    .withZone(ZoneOffset.UTC)

  private def keep(q: mutable.Queue[Pos], p: Pos): Unit = {
    q.enqueue(p)
    if (q.size > TrackCap) q.dequeue()
  }

  /** The next track's position line, round by round; keeps the expected
    * views. */
  private def nextLine(): String = {
    if (emitted % Tracks == 0) order = rnd.shuffle((0 until Tracks).toList)
    val t = order((emitted % Tracks).toInt)
    emitted += 1
    val i = perTrack(t); perTrack(t) += 1
    val tsSec = BaseEpochSec + i
    val lon = f"${-120.0 + t * 0.01 + i * 0.001}%.6f"
    val lat = f"${30.0 + t * 0.01 + i * 0.001}%.6f"
    val alt = 30000L + rnd.nextInt(1000)
    val p = Pos(tsSec * 1000000L, lon.toDouble, lat.toDouble, alt)
    keep(newestAll(t), p)
    if (alt >= HighAltitude) keep(newestHigh(t), p)
    s""""${trackId(t)}",${fmt.format(Instant.ofEpochSecond(tsSec))},$lon,$lat,IAD,TPA,B733,$alt"""
  }

  /** The open-loop generator: until `seconds` have passed, send each chunk
    * when it falls due, whatever the queries are doing, and log it for the
    * latency join. */
  private def feed(rec: Recorder, seconds: Double): Unit = {
    val start = rec.now()
    val perChunk = Tracks / ChunksPerRound
    val stepMs = 1000.0 / ChunksPerRound
    val generator = new Thread(() => {
      var chunk = 0
      while (chunk < seconds * ChunksPerRound) {
        val due = start + chunk * stepMs
        val wait = due - rec.now()
        if (wait > 0) Thread.sleep(math.ceil(wait).toLong)
        val lines = (0 until perChunk).map(_ => nextLine())
        val offset = inputs.map(_.addData(lines).json.toLong).max
        import Json._
        chunks += arr(Seq(num(offset), num(perChunk), num(due), num(due), num(rec.now())))
        chunk += 1
      }
      windowSent = chunk.toLong * perChunk
    }, "perfbench-generator")
    generator.start()
    generator.join()
  }

  def fixtures(spark: SparkSession, rec: Recorder): Unit = {
    import spark.implicits._
    inputs = Seq(MemoryStream[String](spark), MemoryStream[String](spark))
    val Seq(all, high) = inputs.map(i => Flights.flightStream(i.toDF()))
    queries = Seq(
      Flights.showTempView(Flights.trackSnapshots(all), AllView, quiet = true),
      Flights.showTempView(
        Flights.trackSnapshots(high.filter(_.altitude >= HighAltitude)), HighView,
        quiet = true))
  }

  /** [[FeedWorkload.WarmSeconds]] rounds, then one burst, each processed
    * to the end: the queries' first, cold batches of either size run here. */
  def warm(spark: SparkSession, rec: Recorder): Unit = {
    (0 until WarmSeconds).foreach { _ =>
      val lines = (0 until Tracks).map(_ => nextLine())
      inputs.foreach(_.addData(lines))
    }
    queries.foreach(_.processAllAvailable())
    burst()
  }

  /** [[FeedWorkload.BurstRounds]] rounds at once, processed to the end. */
  private def burst(): Unit = {
    val lines = (0 until BurstRounds * Tracks).map(_ => nextLine())
    inputs.foreach(_.addData(lines))
    queries.foreach(_.processAllAvailable())
  }

  /** The open-loop feed for `seconds`, then until both views are current;
    * then the bursts. */
  def measure(spark: SparkSession, rec: Recorder, seconds: Double): Unit = {
    feed(rec, seconds)
    rec.span("drain", "drain")(queries.foreach(_.processAllAvailable()))
    burstAt = rec.now()
    (0 until Bursts).foreach(i => rec.span(s"burst$i", "burst")(burst()))
  }

  def finish(spark: SparkSession, rec: Recorder): Seq[(String, String)] = {
    val ids = queries.map(_.id.toString)
    queries.foreach(_.stop())
    def bad(view: String, want: Array[mutable.Queue[Pos]]): Int = {
      val got = spark.table(view).collect()
        .groupBy(_.getString(0))
        .map { case (id, rows) =>
          id -> rows.map(r => Pos(r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
            .sortBy(_.tsMicros).toSeq }
      val differ = (0 until Tracks).filter(t => got.getOrElse(trackId(t), Nil) != want(t).toSeq)
      differ.headOption.foreach { t =>
        def secs(ps: Seq[Pos]) = ps.map(p => p.tsMicros / 1000000L - BaseEpochSec).mkString(",")
        errors += s"view $view: ${differ.size} of $Tracks tracks differ from the generator; " +
          s"${trackId(t)} holds seconds [${secs(got.getOrElse(trackId(t), Nil))}], " +
          s"want [${secs(want(t).toSeq)}]"
      }
      differ.size
    }
    val wrong = bad(AllView, newestAll) + bad(HighView, newestHigh)
    import Json._
    Seq(checksJson(windowSent + 2 * Tracks, wrong),
      "feed" -> obj("rate_eps" -> num(Rate), "tracks" -> num(Tracks),
        "sent_window" -> num(windowSent),
        "burst_events" -> num(Bursts * BurstRounds * Tracks), "burst_at" -> num(burstAt),
        "query_ids" -> arr(ids.map(str)), "chunks" -> arr(chunks.toSeq)))
  }
}

object FeedWorkload {
  final case class Pos(tsMicros: Long, lon: Double, lat: Double, alt: Long)

  /** Tracks in flight, each reporting once a second, so the offered load
    * is one event per track per second. That is well below the pipeline's
    * capacity on 4 cores: a batch takes longer the more events it holds,
    * and those arrive while the previous batch runs, so batch time is
    * a / (1 - b * Rate), and the nearer to capacity, the more a slower
    * host is amplified in latency. */
  val Tracks = 50
  val Rate: Int = Tracks
  /** Chunks per round. A `MemoryStream` makes one input partition of
    * every `addData`, so a batch holds as many tasks per stage as chunks;
    * a chunk every 20 ms made batches of about 150 tasks. */
  val ChunksPerRound = 5
  /** Capacity bursts, and the seconds of flight time per track in each. */
  val Bursts = 2
  val BurstRounds = 100
  val WarmSeconds = 4
  val TrackCap: Int = graft.tracks.TrackBuffer.DefaultCap
  val HighAltitude = 30500L
  val BaseEpochSec: Long = Instant.parse("2012-03-16T14:25:30Z").getEpochSecond
  val AllView = "perfbench_flights"
  val HighView = "perfbench_high_flights"

  def trackId(t: Int): String = f"PB$t%04d"
}
