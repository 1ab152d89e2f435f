package perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.catalog.MaterializedView
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference MV statement on primary-key lake tables: tickets
  * (`bucket(4, k)`, `'changelog-producer'='input'`) joined with a movies
  * dimension into an incrementally refreshed revenue MV, as in
  * `PkLake.joinMvCensus`, plus a plain (non-PK) versioned copy of the
  * tickets whose DML writes position deletes. A seeded in-memory model
  * of every table is the expected state. `onCommand` sees the result of
  * every DML statement run through `spark.sql`. */
final class Lake(val spark: SparkSession, val root: Path, seed: Long, zipf: Double,
                 onCommand: DataFrame => Unit) {
  import Lake._

  private def command(sql: String): Unit = onCommand(spark.sql(sql))

  val tickets = s"$Catalog.m.tickets"
  val movies = s"$Catalog.m.movies"
  val log = s"$Catalog.m.tickets_log"
  val mv = s"$Catalog.m.rev_mv"

  val rng = new scala.util.Random(seed)
  val movieDraw = new KeyDraw(Movies, zipf, new scala.util.Random(seed + 1))
  val model = mutable.HashMap.empty[Long, T]
  val logModel = mutable.HashMap.empty[Long, T]
  val labels = mutable.HashMap.empty[String, String]
  var nextKey = 0L
  /** Each tickets version this run saw committed, with the model at it. */
  val versions = mutable.ArrayBuffer.empty[(Long, Map[Long, T])]
  /** Retained tickets snapshots: the count after loading, plus one per
    * statement that changed the table's content. */
  var snapshotCount = 0L
  private var lastModel: Map[Long, T] = Map.empty

  private def latestVersion(): Long =
    spark.sql(s"SELECT max(version) FROM $tickets.history").head().getLong(0)

  /** Records the tickets version after a statement (untimed). */
  def noteVersion(): Unit = {
    val now = model.toMap
    if (now != lastModel) {
      snapshotCount += 1
      versions += latestVersion() -> now
      lastModel = now
    }
  }

  def pm(i: Int): String = f"m$i%03d"
  def status(): String = { val u = rng.nextInt(10); if (u < 7) "scheduled" else if (u < 9) "live" else "finished" }
  def fresh(): (Long, T) = { nextKey += 1; (nextKey - 1, T(status(), 850L + rng.nextInt(1651), pm(movieDraw.next()))) }

  def ticketDf(rows: Iterable[(Long, T)]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map { case (k, t) => Row(k, t.status, t.cents, t.pm) }.toSeq, 4),
    TicketSchema)

  /** Creates the tables, loads `n` tickets and builds the join MV. */
  def create(n: Int, logRows: Int): Unit = {
    java.nio.file.Files.createDirectories(root.resolve("m"))
    spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$Catalog.path", root.toString)
    spark.sql(s"""CREATE TABLE $tickets (k BIGINT NOT NULL, status STRING, cents BIGINT, pm STRING)
                 |PARTITIONED BY (bucket(4, k))
                 |TBLPROPERTIES ('versioned'='true', 'primary-key'='k', 'changelog-producer'='input')""".stripMargin)
    spark.sql(s"""CREATE TABLE $movies (pm STRING NOT NULL, label STRING, boost BIGINT)
                 |PARTITIONED BY (bucket(2, pm))
                 |TBLPROPERTIES ('versioned'='true', 'primary-key'='pm', 'changelog-producer'='input')""".stripMargin)
    spark.sql(s"""CREATE TABLE $log (k BIGINT, status STRING, cents BIGINT, pm STRING)
                 |PARTITIONED BY (bucket(4, k))
                 |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    val base = (0 until n).map(_ => fresh())
    model ++= base
    ticketDf(base).write.mode("append").insertInto(tickets)
    logModel ++= base.take(logRows)
    ticketDf(base.take(logRows)).write.mode("append").insertInto(log)
    (0 until Movies).foreach(i => labels(pm(i)) = s"L-${pm(i)}")
    spark.createDataFrame(spark.sparkContext.parallelize(
      labels.toSeq.sorted.map { case (p, l) => Row(p, l, 1L) }, 2), MovieSchema)
      .write.mode("append").insertInto(movies)
    MaterializedView.createJoin(spark, mv, tickets, movies, factKeys = Seq("k"),
      joinCols = Seq("pm"), groupBy = Seq("pm", "label"),
      aggs = Seq("cents" -> "sum", "cents" -> "count", "cents" -> "min"), buckets = 4)
    lastModel = model.toMap
    versions += latestVersion() -> lastModel
    snapshotCount = spark.sql(s"SELECT count(*) FROM $tickets.history").head().getLong(0)
  }

  /** The change feed's per-op summary over `steps` (model before, model
    * after) pairs: what `Lake.feedSummary` of the engine's feed must give. */
  def diffRows(steps: Seq[(Map[Long, T], Map[Long, T])]): Seq[Row] = {
    val acc = mutable.HashMap.empty[String, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    def add(op: String, b: Long, a: Long): Unit = {
      val (n, sb, sa) = acc(op); acc(op) = (n + 1, sb + b, sa + a)
    }
    steps.foreach { case (before, after) =>
      after.foreach { case (k, t) =>
        before.get(k) match {
          case None => add("c", 0, t.cents)
          case Some(o) if o != t => add("u", o.cents, t.cents)
          case _ => ()
        }
      }
      before.foreach { case (k, o) => if (!after.contains(k)) add("d", o.cents, 0) }
    }
    acc.toSeq.map { case (op, (n, b, a)) => Row(op, n, b, a) }
  }

  /** A key range of `w` live keys' span, drawn from the workload's key law. */
  def range(w: Int): (Long, Long) = {
    val a = if (zipf > 0) (movieDraw.next().toLong * nextKey / Movies) else (rng.nextDouble() * nextKey).toLong
    (a, a + w - 1)
  }

  // ---- statements: each applies to the lake through SQL or the
  // DataFrameWriter, and to the model in Scala ----

  def upsert(nRows: Int): Unit = {
    val rows = (0 until nRows).map { _ =>
      if (rng.nextBoolean()) {
        // an existing key, or a deleted one coming back
        val k = math.min(range(1)._1, nextKey - 1)
        val old = model.getOrElse(k, T(status(), 1000L, pm(movieDraw.next())))
        k -> old.copy(status = if (old.status == "scheduled") "live" else "finished", cents = old.cents + 1)
      } else fresh()
    }.toMap
    ticketDf(rows).write.mode("append").insertInto(tickets)
    model ++= rows
  }

  def update(w: Int): Unit = {
    val (a, b) = range(w)
    command(s"UPDATE $tickets SET status = 'live', cents = cents + 100 WHERE k BETWEEN $a AND $b AND status = 'scheduled'")
    (a to b).foreach(k => model.get(k).filter(_.status == "scheduled")
      .foreach(t => model(k) = t.copy(status = "live", cents = t.cents + 100)))
  }

  def delete(w: Int): Unit = {
    val (a, b) = range(w)
    command(s"DELETE FROM $tickets WHERE k BETWEEN $a AND $b")
    (a to b).foreach(model.remove)
  }

  def merge(nRows: Int): Unit = {
    val view = "bench_cdc_batch"
    val src = (0 until nRows).map { i =>
      val (a, _) = range(1)
      val (k, t) = if (i % 3 == 0) fresh() else (a + i, T(status(), 850L + rng.nextInt(1651), pm(movieDraw.next())))
      (k, t, if (i % 7 == 1) "d" else "u")
    }.groupBy(_._1).map(_._2.head).toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(
      src.map { case (k, t, op) => Row(k, t.status, t.cents, t.pm, op) }, 2),
      TicketSchema.add("op", StringType)).createOrReplaceTempView(view)
    command(s"""MERGE INTO $tickets t USING $view s ON t.k = s.k
                 |WHEN MATCHED AND s.op = 'd' THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET status = s.status, cents = s.cents
                 |WHEN NOT MATCHED AND s.op = 'u' THEN INSERT (k, status, cents, pm) VALUES (s.k, s.status, s.cents, s.pm)""".stripMargin)
    src.foreach { case (k, t, op) =>
      model.get(k) match {
        case Some(_) if op == "d" => model.remove(k)
        case Some(old) => model(k) = old.copy(status = t.status, cents = t.cents)
        case None if op == "u" => model(k) = t
        case None => ()
      }
    }
  }

  def relabel(gen: Int): Unit = {
    val p = pm(movieDraw.next())
    command(s"UPDATE $movies SET label = 'R$gen' WHERE pm = '$p'")
    labels(p) = s"R$gen"
  }

  /** Plain-table DML: position deletes under merge-on-read. */
  def logDml(w: Int): Unit = {
    val a = (rng.nextDouble() * logModel.size).toLong
    val b = a + w - 1
    if (rng.nextBoolean()) {
      command(s"DELETE FROM $log WHERE k BETWEEN $a AND $b")
      (a to b).foreach(logModel.remove)
    } else {
      command(s"UPDATE $log SET cents = cents + 7 WHERE k BETWEEN $a AND $b")
      (a to b).foreach(k => logModel.get(k).foreach(t => logModel(k) = t.copy(cents = t.cents + 7)))
    }
  }

  def refresh(): Unit = { MaterializedView.refresh(spark, mv); () }

  /** Revenue per (movie, label) from the model — the join+aggregate the
    * MV maintains (inner join: every ticket's movie exists). */
  def expectedMv: Map[(String, String), (Long, Long, Long)] =
    model.valuesIterator.toSeq.groupBy(_.pm).map { case (p, ts) =>
      (p, labels(p)) -> (ts.map(_.cents).sum, ts.length.toLong, ts.map(_.cents).min)
    }

  /** The MV's columns in the order [[rowsOf]] reads them. */
  def mvColumns(df: DataFrame): DataFrame =
    df.select(col("pm"), col("label"), col("sum_cents").cast("bigint"),
      col("count_cents").cast("bigint"), col("min_cents").cast("bigint"))

  def rowsOf(rows: Seq[Row]): Map[(String, String), (Long, Long, Long)] =
    rows.map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  def mvRows(df: DataFrame): Map[(String, String), (Long, Long, Long)] =
    rowsOf(mvColumns(df).collect().toSeq)

  def modelRows(m: collection.Map[Long, T]): Seq[Row] =
    m.toSeq.map { case (k, t) => Row(k, t.status, t.cents, t.pm) }

  /** Every table resolved equals its model, and the MV equals a full
    * join+aggregate recompute over the resolved tables. */
  def checkAll(rep: Report, phase: String): Unit = {
    rep.check(Check.checksum(spark.table(tickets).select("k", "status", "cents", "pm").collect())
      == Check.checksum(modelRows(model)), s"$phase: resolved tickets != model")
    rep.check(Check.checksum(spark.table(log).select("k", "status", "cents", "pm").collect())
      == Check.checksum(modelRows(logModel)), s"$phase: plain tickets table != model")
    rep.check(spark.table(movies).select("pm", "label").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap == labels.toMap, s"$phase: movies != model")
    val recompute = spark.table(tickets).join(spark.table(movies), "pm")
      .groupBy("pm", "label").agg(sum("cents").as("sum_cents"),
        count(lit(1)).as("count_cents"), min("cents").as("min_cents"))
    val got = mvRows(spark.table(mv))
    rep.check(got == mvRows(recompute), s"$phase: MV != full join+aggregate recompute")
    rep.check(got == expectedMv, s"$phase: MV != model")
  }
}

object Lake {
  val Catalog = "bw"
  /** Per-op row count and before/after cost sums of a change feed. */
  def feedSummary(feed: DataFrame): DataFrame =
    feed.groupBy("op").agg(count(lit(1)).as("n"),
      sum(coalesce(col("before.cents"), lit(0L))).as("b"), sum(coalesce(col("after.cents"), lit(0L))).as("a"))

  val Movies = 100
  final case class T(status: String, cents: Long, pm: String)
  val TicketSchema: StructType = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("status", StringType), StructField("cents", LongType), StructField("pm", StringType)))
  val MovieSchema: StructType = StructType(Seq(StructField("pm", StringType, nullable = false),
    StructField("label", StringType), StructField("boost", LongType)))
}
