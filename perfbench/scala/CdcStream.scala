package perfbench

import java.nio.file.Path
import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.collection.mutable

import graft.operators.Revenue
import graft.streaming.CdcPipeline
import graft.streaming.CdcPipeline.{CdcRecord, TableSpec}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** The reference topology: users, movies and tickets changelogs flow
  * through `CdcPipeline.start` into per-table staging state and the
  * `movie_revenue_realtime` MV. Phase 1 drains a seeded initial snapshot
  * (the CDC snapshot phase); phase 2 is an open loop at a fixed event
  * rate, timed from each event's scheduled send time to the end of the
  * trigger whose MV commit includes it. */
object CdcStream {
  val SnapshotTickets = 100000
  val Movies = 100
  val Users = 1000
  /** Phase-2 events per second: well below the phase-1 drain rate, and
    * low enough that on a 4-core host the batches settle by the third
    * trigger (~120 rows, ~2.4 s). Each phase-2 row adds milliseconds to
    * its trigger: at 200 events/s the batches still grew after five
    * triggers (250 → 2,000 rows, 4.9 → 9.7 s). */
  val Rate = 50

  val ticketSchema: StructType = StructType(Seq(
    StructField("ticket_id", LongType), StructField("movie_id", LongType),
    StructField("user_id", LongType), StructField("cost", DecimalType(10, 2)),
    StructField("status", StringType), StructField("purchased_at", TimestampType)))
  val movieSchema: StructType = StructType(Seq(
    StructField("movie_id", LongType), StructField("title", StringType),
    StructField("start_date", TimestampType), StructField("duration_minutes", IntegerType)))
  val userSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("username", StringType),
    StructField("email", StringType)))

  private val tables = Seq(
    TableSpec("tickets", ticketSchema, Seq("ticket_id"), dist = Seq("movie_id")),
    TableSpec("movies", movieSchema, Seq("movie_id")),
    TableSpec("users", userSchema, Seq("user_id")))

  private val Epoch = LocalDateTime.of(2026, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  private def iso(sec: Long) = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).toString match {
    case s if s.length == 16 => s + ":00"
    case s => s
  }

  final case class Ticket(id: Long, movie: Long, user: Long, cents: Long, status: String, at: Long) {
    def json: String =
      s"""{"ticket_id":$id,"movie_id":$movie,"user_id":$user,"cost":${BigDecimal(cents, 2)},"status":"$status","purchased_at":"${iso(at)}"}"""
    def row: Row = Row(id, movie, user, new java.math.BigDecimal(java.math.BigInteger.valueOf(cents), 2),
      status, java.sql.Timestamp.from(Instant.ofEpochSecond(at)))
  }
  final case class Movie(id: Long, title: String, start: Long, minutes: Int) {
    def json: String =
      s"""{"movie_id":$id,"title":"$title","start_date":"${iso(start)}","duration_minutes":$minutes}"""
    def row: Row = Row(id, title, java.sql.Timestamp.from(Instant.ofEpochSecond(start)), minutes)
  }
  final case class User(id: Long, name: String, email: String) {
    def json: String = s"""{"user_id":$id,"username":"$name","email":"$email"}"""
    def row: Row = Row(id, name, email)
  }

  private val Titles = Seq("The Matrix", "Inception", "Interstellar", "Parasite",
    "Arrival", "Dune", "Heat", "Alien", "Memento", "Up", "Coco", "Jaws",
    "Rocky", "Vertigo", "Casablanca")

  /** Seeded changelog generator after the reference's `gen_data.py`:
    * inserts draw status scheduled/live/finished at 70/20/10 and a cost
    * of 8.50–25.00; updates advance scheduled→live→finished; a few
    * movie and user rows change too. The generator's own model is the
    * expected staging state. */
  final class Gen(seed: Long, zipf: Double) {
    private val rng = new scala.util.Random(seed)
    private val movieDraw = new KeyDraw(Movies, zipf, new scala.util.Random(seed + 1))
    val tickets = mutable.LinkedHashMap.empty[Long, Ticket]
    val movies = mutable.LinkedHashMap.empty[Long, Movie]
    val users = mutable.LinkedHashMap.empty[Long, User]
    private val open = mutable.ArrayBuffer.empty[Long] // tickets not yet finished
    private var nextTicket = 0L
    private var ts = 0L
    private var clock = Epoch

    private def status(): String = {
      val u = rng.nextInt(10)
      if (u < 7) "scheduled" else if (u < 9) "live" else "finished"
    }
    private def rec(table: String, op: String, before: String, after: String) = {
      ts += 1
      CdcRecord(table, op, ts, before, after)
    }
    private def newTicket(): CdcRecord = {
      clock += 1
      val t = Ticket(nextTicket, movieDraw.next().toLong, rng.nextInt(Users).toLong,
        850 + rng.nextInt(1651), status(), clock)
      nextTicket += 1
      tickets(t.id) = t
      if (t.status != "finished") open += t.id
      rec("tickets", "c", null, t.json)
    }

    /** The users and movies snapshot. */
    def dimensions(): Seq[CdcRecord] = {
      val us = (0 until Users).map { i =>
        val u = User(i, f"user$i%04d", s"user$i@example.com"); users(u.id) = u
        rec("users", "c", null, u.json)
      }
      val ms = (0 until Movies).map { i =>
        val m = Movie(i, s"${Titles(i % Titles.length)} ${i / Titles.length + 1}",
          Epoch + 86400L * rng.nextInt(30) + 1800L * rng.nextInt(2), 90 + rng.nextInt(91))
        movies(m.id) = m
        rec("movies", "c", null, m.json)
      }
      us ++ ms
    }

    /** The tickets snapshot backlog. */
    def snapshot(n: Int): Seq[CdcRecord] = (0 until n).map(_ => newTicket())

    /** One phase-2 event: 50% ticket inserts, 44% status advances, 3%
      * movie retitles, 3% user email changes. */
    def next(): CdcRecord = {
      val u = rng.nextInt(100)
      if (u < 50 || open.isEmpty) newTicket()
      else if (u < 94) {
        val i = rng.nextInt(open.length)
        val old = tickets(open(i))
        val t = old.copy(status = if (old.status == "scheduled") "live" else "finished")
        tickets(t.id) = t
        if (t.status == "finished") { open(i) = open.last; open.remove(open.length - 1) }
        rec("tickets", "u", old.json, t.json)
      } else if (u < 97) {
        val old = movies(movieDraw.next().toLong)
        val m = old.copy(title = old.title + "*")
        movies(m.id) = m
        rec("movies", "u", old.json, m.json)
      } else {
        val old = users(rng.nextInt(Users).toLong)
        val v = old.copy(email = s"${old.name}.${ts}@example.com")
        users(v.id) = v
        rec("users", "u", old.json, v.json)
      }
    }
  }

  /** A started pipeline and its input stream. */
  final class Live(val spark: SparkSession, dir: Path) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem: MemoryStream[CdcRecord] = MemoryStream[CdcRecord]
    val handle: CdcPipeline.Handle = CdcPipeline.start(spark, mem.toDF(), tables,
      s"$dir/state", s"$dir/ckpt", Trigger.ProcessingTime(0))
    def add(rs: Seq[CdcRecord]): Long = mem.addData(rs).toString.toLong
    def stop(): Unit = handle.query.stop()
    def progress: Seq[StreamingQueryProgress] = handle.query.recentProgress.toSeq
  }

  private def offsetOf(s: String): Long = Option(s).map(_.trim).filter(_.nonEmpty).fold(-1L)(_.toLong)
  private def endMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble + p.durationMs.get("triggerExecution").doubleValue()

  final class State(val gen: Gen, val live: Live, val dir: Path)

  /** Warm-up triggers of phase-2 events after the dimensions snapshot,
    * and their size. Without them the phase-1 drain runs on code the JIT
    * has not finished compiling (~45,000 rows/s instead of ~62,000). */
  val WarmupTriggers = 4
  val WarmupEvents = 120

  /** Set-up: the pipeline starts, drains the users and movies snapshot
    * and a few small triggers of phase-2 events, which pays the trigger
    * path's first-run JIT and codegen. */
  def setup(ctx: Ctx): State = {
    val st = new State(new Gen(ctx.seed, ctx.workload.zipf), new Live(ctx.spark, ctx.dir.resolve("cdc")),
      ctx.dir.resolve("cdc"))
    val q = st.live.handle.query
    st.live.add(st.gen.dimensions())
    q.processAllAvailable()
    (0 until WarmupTriggers).foreach { _ =>
      st.live.add((0 until WarmupEvents).map(_ => st.gen.next()))
      q.processAllAvailable()
    }
    st
  }

  /** Phase-2 triggers with input that end the open loop; the trigger
    * after them drains the last events. Each trigger takes all that
    * arrived while the one before ran. The first [[StartupTriggers]] are
    * the start-up: the first takes the first events only, the second
    * what arrived during that short first one. */
  val LoopTriggers = 4
  val StartupTriggers = 2

  def run(ctx: Ctx, st: State, capS: Double): Unit = {
    val rep = ctx.report
    val live = st.live
    val q = live.handle.query
    // phase 1: the snapshot backlog, timed to the end of the trigger
    // that commits the MV reflecting it
    val snap = st.gen.snapshot(SnapshotTickets)
    val snapOff = live.add(snap)
    val t0 = System.currentTimeMillis().toDouble
    q.processAllAvailable()
    val snapDone = live.progress.find(p => offsetOf(p.sources.head.endOffset) >= snapOff)
      .map(endMs).getOrElse(System.currentTimeMillis().toDouble)
    rep.put("cdc_snapshot_rows_per_s", SnapshotTickets / ((snapDone - t0) / 1000.0), "rows/s")
    val phase1Batches = live.progress.length
    def loopTriggers() = q.recentProgress.iterator.drop(phase1Batches).count(_.numInputRows > 0)

    // phase 2: one generator thread sends on a fixed schedule that does
    // not slow when the engine does; every event keeps its scheduled
    // time. It stops once LoopTriggers triggers have ended (the next
    // one drains what arrived during the last), or at the cap.
    val sends = mutable.ArrayBuffer.empty[(Long, Long, Long, Double)] // offset, first, end, sentMs
    val start = System.currentTimeMillis() + 20.0
    val stopAt = start + capS * 1000
    def sched(i: Long): Double = start + i * 1000.0 / Rate
    var stoppedAt = 0.0
    var capped = false
    val genThread = new Thread(() => {
      var i = 0L
      var now = System.currentTimeMillis().toDouble
      while (now < stopAt && loopTriggers() < LoopTriggers) {
        val due = math.floor((now - start) * Rate / 1000.0).toLong + 1
        if (due > i) {
          val off = live.add((i until due).map(_ => st.gen.next()))
          sends += ((off, i, due, System.currentTimeMillis().toDouble))
          i = due
        } else Thread.sleep(math.max(1L, math.min(5L, (sched(i) - now).toLong)))
        now = System.currentTimeMillis().toDouble
      }
      stoppedAt = now
      capped = now >= stopAt
    }, "perfbench-generator")
    genThread.start()
    genThread.join()
    q.processAllAvailable()
    val total = sends.lastOption.fold(0L)(_._3)
    val progress = live.progress.drop(phase1Batches).filter(_.numInputRows > 0)
    rep.attempt(SnapshotTickets + total)

    // event → committing trigger, by source offset ranges
    val trig = progress.map(p => (offsetOf(p.sources.head.startOffset),
      offsetOf(p.sources.head.endOffset), endMs(p)))
    def commitOf(off: Long): Option[Int] = trig.indexWhere { case (s, e, _) => off > s && off <= e } match {
      case -1 => None
      case k => Some(k)
    }
    // freshness counts the events of the triggers after the start-up
    val fresh = mutable.ArrayBuffer.empty[Double]
    val perTrigger = mutable.HashMap.empty[Int, Double]
    var lateMax = 0.0
    sends.foreach { case (off, first, end, sent) =>
      lateMax = math.max(lateMax, sent - sched(first))
      commitOf(off) match {
        case Some(k) if k >= StartupTriggers =>
          val t = trig(k)._3
          (first until end).foreach(i => fresh += t - sched(i))
          perTrigger(k) = math.max(perTrigger.getOrElse(k, 0.0), t - sched(first))
        case Some(_) => ()
        case None => rep.fail(s"cdc: events at offset $off never committed")
      }
    }
    def startMs(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli.toDouble
    // backlog: rows sent but not yet committed, at each trigger's start
    val backlog = progress.map { p =>
      val sent = sends.filter(_._4 <= startMs(p)).map(s => s._3 - s._2).sum
      val done = trig.filter(_._3 <= startMs(p)).map(_._2).maxOption.fold(0L) { e =>
        sends.filter(_._1 <= e).map(s => s._3 - s._2).sum
      }
      (sent - done).toDouble
    }
    // Load: a trigger drains all that arrived while the one before ran,
    // so a trigger that runs one second longer faces Rate more rows,
    // which cost Rate * (ms per row) / 1000 seconds more in the next one.
    // Below 1 the batches settle at Rate * d0 / (1 - load) rows (d0 the
    // cost of an empty trigger); at 1 and above they grow without bound.
    // Ms per row is the slope of trigger time over rows, fitted over the
    // loop's triggers after the first, which touches few buckets.
    val fit = progress.drop(1).filter(p => startMs(p) <= stoppedAt + 100)
      .map(p => (p.numInputRows.toDouble, p.durationMs.get("triggerExecution").doubleValue()))
    val load = if (fit.length < 3) Double.NaN else Rate * Stats.slope(fit) / 1000
    val judged = (if (load.isNaN) s"not judged (${fit.length} triggers)"
      else if (load >= 1) f"GROWING: rate unsustainable (load $load%.2f)"
      else f"bounded (load $load%.2f)") + (if (capped) s"; the loop hit its ${capS}s cap" else "")
    rep.check(perTrigger.nonEmpty, s"cdc: no trigger after the start-up within the ${capS}s cap")
    rep.put("cdc_freshness_p50_ms", Stats.median(fresh.toSeq), "ms")
    rep.put("cdc_freshness_tail_ms", perTrigger.values.maxOption.getOrElse(Double.NaN), "ms")
    rep.notes("cdc_tail") = s"slowest of ${perTrigger.size} per-trigger samples; ${fresh.size} events after the start-up"
    val blMax = backlog.maxOption.getOrElse(0.0)
    rep.notes("cdc_backlog") = f"max $blMax%.0f rows; $judged"
    rep.notes("cdc_loop") = f"$total events in ${(sends.last._4 - start) / 1000}%.1f s; triggers " +
      progress.map(p => s"${p.numInputRows} rows/${p.durationMs.get("triggerExecution")} ms").mkString(", ")
    rep.put("streaming.backlog_rows_max", blMax, "rows")
    // 1, the verge, when too few triggers ran to judge
    rep.put("streaming.load", if (load.isNaN) 1.0 else load, "ratio")
    rep.put("streaming.gen_late_ms_max", lateMax, "ms")
    val durs = progress.map(_.durationMs)
    def p50(k: String) = Stats.median(durs.map(_.get(k).doubleValue()))
    rep.put("streaming.trigger_ms_p50", p50("triggerExecution"), "ms")
    rep.put("streaming.addbatch_ms_p50", p50("addBatch"), "ms")
    rep.put("streaming.overhead_ms_p50", Stats.median(durs.map(d =>
      d.get("triggerExecution").doubleValue() - d.get("addBatch").doubleValue())), "ms")
    rep.put("streaming.rows_per_trigger_p50", Stats.median(progress.map(_.numInputRows.toDouble)), "rows")
    rep.put("streaming.triggers", progress.length.toDouble, "count")
  }

  /** Output checks after the pipeline drained: the MV equals
    * `Revenue.movieRevenue` recomputed over the generator's model (the
    * batch latest-by-key of the whole changelog), and each staging
    * table equals the model. */
  def check(ctx: Ctx, st: State): Unit = {
    val spark = ctx.spark
    val g = st.gen
    def df(rows: Iterable[Row], s: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4), s)
    val tickets = df(g.tickets.values.map(_.row), ticketSchema)
    val movies = df(g.movies.values.map(_.row), movieSchema)
    val users = df(g.users.values.map(_.row), userSchema)
    val h = st.live.handle
    def staged(t: String, s: StructType): DataFrame =
      h.staging(t).map(_.select(s.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*))
        .getOrElse(df(Nil, s))
    val rep = ctx.report
    rep.check(Check.sameRows(tickets, staged("tickets", ticketSchema)), "cdc: tickets staging != model")
    rep.check(Check.sameRows(movies, staged("movies", movieSchema)), "cdc: movies staging != model")
    rep.check(Check.sameRows(users, staged("users", userSchema)), "cdc: users staging != model")
    val expected = Revenue.movieRevenue(tickets, movies)
    val mv = h.mv().getOrElse(df(Nil, expected.schema))
    rep.check(Check.sameRows(expected, mv.select(expected.columns.toSeq.map(mv.col): _*)),
      "cdc: movie_revenue_realtime != Revenue.movieRevenue over the model")
    val (bytes, files) = Files2.usage(st.dir.resolve("state"))
    val liveRows = g.tickets.size + g.movies.size + g.users.size + expected.count()
    rep.put("state.bytes", bytes.toDouble, "B")
    rep.put("state.files", files.toDouble, "count")
    rep.put("state.bytes_per_live_row", bytes.toDouble / liveRows, "B/row")
    // live `v=N` version directories across every state store
    val versions = {
      val s = java.nio.file.Files.walk(st.dir.resolve("state"), 2)
      try s.filter(p => p.getFileName.toString.startsWith("v=")).count() finally s.close()
    }
    rep.put("state.versions", versions.toDouble, "count")
  }
}
