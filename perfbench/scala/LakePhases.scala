package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `lake_writes`: one client; each generation runs one seeded CDC
  * statement, then `MaterializedView.refresh`, then one report read of
  * the MV. Loads the catalog write path (row-level rewrite analysis,
  * PK and merge-on-read DML, the snapshot commit, changelog production,
  * MV refresh) and reads a table every commit changes. */
object LakeWrites {
  val Tickets = 150000 // the sf0.1 `orders` row count
  val LogRows = 10000
  /** One generation per statement kind, in this order, every run: the
    * seed picks keys and values, never the mix, so per-run medians
    * compare across seeds. `mor` is a plain (non-PK) table statement:
    * merge-on-read position deletes. */
  val Kinds: Seq[String] = Seq("upsert", "update", "delete", "merge", "relabel", "mor")

  def setup(ctx: Ctx): Lake = {
    ctx.spark.conf.set("graft.write.mode", "merge-on-read")
    val lake = new Lake(ctx.spark, ctx.dir.resolve("lake"), ctx.seed, ctx.workload.zipf,
      df => ctx.tracer.foreach(_.command(df)))
    lake.create(Tickets, LogRows)
    lake
  }

  final case class Times(kind: String, dml: Double, refresh: Double, read: Double)

  def generation(ctx: Ctx, lake: Lake, kind: String, g: Int): Times = {
    val rng = lake.rng
    val trace = ctx.tracer.map(_ => Files2.listing(lake.root))
    val (_, dml) = ctx.op("lake_writes", s"dml.$kind") {
      kind match {
        case "upsert" => lake.upsert(20 + rng.nextInt(180))
        case "update" => lake.update(20 + rng.nextInt(80))
        case "delete" => lake.delete(10 + rng.nextInt(40))
        case "merge" => lake.merge(30 + rng.nextInt(120))
        case "relabel" => lake.relabel(g)
        case "mor" => lake.logDml(10 + rng.nextInt(40))
      }
    }
    trace.foreach(before => Commits.record(before, Files2.listing(lake.root)))
    val (_, refresh) = ctx.op("lake_writes", "refresh")(lake.refresh())
    val (top, read) = ctx.op("lake_writes", "read.report") {
      lake.mvColumns(ctx.spark.table(lake.mv)).orderBy(desc("sum_cents"), col("pm")).limit(10).collect()
    }
    val want = lake.expectedMv.toSeq.sortBy { case ((p, _), (s, _, _)) => (-s, p) }.take(10)
    ctx.report.check(lake.rowsOf(top.toSeq) == want.toMap, s"lake_writes: report read at generation $g != model")
    ctx.report.attempt(2) // the statement and the refresh
    lake.noteVersion()
    Times(kind, dml, refresh, read)
  }

  def run(ctx: Ctx, lake: Lake): Unit = {
    Commits.reset()
    val times = Kinds.zipWithIndex.map { case (k, g) => generation(ctx, lake, k, g) }
    val rep = ctx.report
    // one statement of each kind, and the kinds differ in cost: the mean
    // and the slowest count every kind, the median only the middle ones
    rep.put("dml_p50_ms", Stats.median(times.map(_.dml)), "ms")
    rep.put("dml_mean_ms", Stats.mean(times.map(_.dml)), "ms")
    rep.put("dml_tail_ms", times.map(_.dml).max, "ms")
    rep.put("refresh_p50_ms", Stats.median(times.map(_.refresh)), "ms")
    rep.put("refresh_tail_ms", times.map(_.refresh).max, "ms")
    rep.put("lake_writes.report_read_ms_p50", Stats.median(times.map(_.read)), "ms")
    rep.notes("lake_writes_tail") = s"slowest of ${times.length} statements and of ${times.length} refreshes"
    Kinds.foreach(k => rep.put(s"catalog.dml_ms_p50.$k", Stats.median(times.filter(_.kind == k).map(_.dml)), "ms"))
    Commits.finish(rep, times.length)
  }

  /** End of phase: every table equals its model, the MV equals a full
    * recompute, and the bytes the lake keeps per live row. */
  def check(ctx: Ctx, lake: Lake): Unit = {
    lake.checkAll(ctx.report, "lake_writes")
    val (bytes, _) = Files2.usage(lake.root)
    val live = lake.model.size + lake.logModel.size + lake.labels.size + lake.expectedMv.size
    ctx.report.put("bytes_per_live_row", bytes.toDouble / live, "B/row")
  }
}

/** What each statement committed, from a listing of the lake directory
  * before and after it (traced runs only): snapshots, and files and
  * bytes by kind. */
object Commits {
  val FileKinds = Seq("data", "eq_delete", "pos_delete", "changelog", "manifest")
  private val files = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val bytes = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var snapshots = 0.0

  /** The lake's file layout: `_graft_snapshots/` holds snapshot
    * (`s-N.json`) and manifest-segment files, `_graft_eqdeletes/` and
    * `_graft_deletes/` the equality and position deletes,
    * `_graft_changelog/` the persisted changelog; other parquet is data.
    * Checksums and markers count as nothing. */
  def kindOf(rel: String): Option[String] = {
    val name = rel.substring(rel.lastIndexOf('/') + 1)
    if (name.endsWith(".crc") || name.startsWith("_SUCCESS")) None
    else if (rel.contains("_graft_changelog/")) Some("changelog").filter(_ => name.endsWith(".parquet"))
    else if (rel.contains("_graft_eqdeletes/")) Some("eq_delete")
    else if (rel.contains("_graft_deletes/")) Some("pos_delete")
    else if (name.endsWith(".parquet")) Some("data")
    else Some("manifest")
  }

  def reset(): Unit = { files.clear(); bytes.clear(); snapshots = 0 }

  def record(before: Map[String, Long], after: Map[String, Long]): Unit = {
    val added = after.filter { case (f, _) => !before.contains(f) }
    added.foreach { case (f, b) => kindOf(f).foreach { k => files(k) += 1; bytes(k) += b } }
    snapshots += added.keys.count(f => f.contains("_graft_snapshots/s-"))
  }

  def finish(rep: Report, statements: Int): Unit = {
    val n = math.max(1, statements).toDouble
    rep.put("commit.snapshots_per_dml", snapshots / n, "count")
    FileKinds.foreach { k =>
      rep.put(s"commit.files_per_dml.$k", files(k) / n, "count")
      rep.put(s"commit.bytes_per_dml.$k", bytes(k) / n, "B")
    }
  }
}

/** `lake_reads`: read-only, over the tables `lake_writes` left behind —
  * a fixed, un-compacted history of equality deletes, position deletes
  * and many snapshots (fixed, because the write phase runs a fixed
  * statement sequence). One client runs a seeded read mix with warm
  * caches and no commits. Each read's checksum is compared with the same
  * query over a plain parquet copy of the resolved state. */
object LakeReads {
  /** The read kinds, timed in [[Passes]] passes after one untimed read of
    * each kind in [[prepare]]: the first read after the writes misses the
    * manifest and delete-vector caches, and a sample holding both first
    * and repeated reads splits in two modes. A warm read takes 30–400 ms,
    * so one pass left the spread of `read_p50_ms` at 0.28. */
  val Kinds: Seq[String] = Seq("point", "range", "agg", "mv", "timetravel", "changes", "meta")
  val Passes = 3

  final class State(val lake: Lake, val expected: Map[String, (Long, Long)], val travel: Long,
                    val changes: (Long, Long))

  private def queries(lake: Lake, travel: Long, changes: (Long, Long)): Map[String, () => DataFrame] = {
    val spark = lake.spark
    val s = lake.tickets
    Map(
      "agg" -> (() => spark.table(s).join(spark.table(lake.movies), "pm")
        .groupBy("pm", "label").agg(sum("cents").as("sum_cents"), count(lit(1)).as("n"))),
      "mv" -> (() => lake.mvColumns(spark.table(lake.mv))),
      "timetravel" -> (() => spark.sql(
        s"SELECT status, count(*) AS n, sum(cents) AS c FROM $s VERSION AS OF $travel GROUP BY status")),
      "changes" -> (() => Lake.feedSummary(graft.catalog.Catalog.readTableChanges(spark, s, Seq("k"), changes._1, changes._2))),
      "meta" -> (() => spark.sql(s"SELECT count(*) AS n FROM $s.history")))
  }

  /** Writes the parquet copy, derives every expected checksum from it
    * and warms the caches with one read of each kind (untimed, between
    * phases). */
  def prepare(ctx: Ctx, lake: Lake): State = {
    val spark = ctx.spark
    val copy = ctx.dir.resolve("lake_copy")
    val vs = lake.versions.toVector
    val travel = vs(vs.length / 2)._1
    val changes = (vs.head._1, vs(math.min(3, vs.length - 1))._1)
    lake.ticketDf(lake.model).write.parquet(copy.resolve("tickets").toString)
    lake.ticketDf(vs.find(_._1 == travel).get._2).write.parquet(copy.resolve("tickets_travel").toString)
    spark.createDataFrame(spark.sparkContext.parallelize(
      lake.labels.toSeq.map { case (p, l) => Row(p, l, 1L) }, 2), Lake.MovieSchema)
      .write.parquet(copy.resolve("movies").toString)
    val t = spark.read.parquet(copy.resolve("tickets").toString)
    val m = spark.read.parquet(copy.resolve("movies").toString)
    val joined = t.join(m, "pm")
    // the feed over (from, to]: each version's keyed diff against the
    // one before, over the copies of the model at those versions
    val steps = vs.filter(v => v._1 > changes._1 && v._1 <= changes._2).map { case (v, after) =>
      (vs.filter(_._1 < v).last._2, after)
    }
    val expected = Map(
      "agg" -> joined.groupBy("pm", "label").agg(sum("cents").as("sum_cents"), count(lit(1)).as("n")).collect().toSeq,
      "mv" -> lake.mvColumns(joined.groupBy("pm", "label").agg(sum("cents").as("sum_cents"),
        count(lit(1)).as("count_cents"), min("cents").as("min_cents"))).collect().toSeq,
      "timetravel" -> spark.read.parquet(copy.resolve("tickets_travel").toString)
        .groupBy("status").agg(count(lit(1)).as("n"), sum("cents").as("c")).collect().toSeq,
      "changes" -> lake.diffRows(steps),
      "meta" -> Seq(Row(lake.snapshotCount)))
      .map { case (k, rows) => k -> Check.checksum(rows) }
    // the live data files every read could open: the base of scan.files_read_ratio
    ctx.report.put("scan.live_files", Seq(lake.tickets, lake.movies, lake.mv)
      .map(t => spark.sql(s"SELECT count(*) FROM $t.files").head().getLong(0)).sum.toDouble, "count")
    val st = new State(lake, expected, travel, changes)
    Kinds.foreach(k => ctx.report.check(read(ctx, st, k)._2, s"lake_reads: warm-up $k read != parquet copy"))
    st
  }

  private def read(ctx: Ctx, st: State, kind: String): (Double, Boolean) = {
    val lake = st.lake
    val spark = ctx.spark
    kind match {
      case "point" =>
        val k = lake.range(1)._1
        val (rows, ms) = ctx.op("lake_reads", "read.point") {
          spark.table(lake.tickets).filter(col("k") === k).select("k", "status", "cents", "pm").collect()
        }
        (ms, Check.checksum(rows) == Check.checksum(lake.modelRows(lake.model.get(k).map(k -> _).toMap)))
      case "range" =>
        val (a, b) = lake.range(500)
        val (rows, ms) = ctx.op("lake_reads", "read.range") {
          spark.table(lake.tickets).filter(col("k").between(a, b)).select("k", "status", "cents", "pm").collect()
        }
        (ms, Check.checksum(rows) == Check.checksum(lake.modelRows(lake.model.filter { case (k, _) => k >= a && k <= b })))
      case q =>
        val f = queries(lake, st.travel, st.changes)(q)
        val (rows, ms) = ctx.op("lake_reads", s"read.$q")(f().collect())
        (ms, Check.checksum(rows) == st.expected(q))
    }
  }

  def run(ctx: Ctx, st: State): Unit = {
    val times = (0 until Passes).flatMap(_ => Kinds.map { k =>
      val (ms, ok) = read(ctx, st, k)
      ctx.report.check(ok, s"lake_reads: $k read != parquet copy")
      k -> ms
    })
    val rep = ctx.report
    // each kind's median over the passes, then the kinds pooled
    val xs = Kinds.map(k => Stats.median(times.filter(_._1 == k).map(_._2)))
    rep.put("read_p50_ms", Stats.median(xs), "ms")
    rep.put("read_mean_ms", Stats.mean(xs), "ms")
    rep.put("read_tail_ms", xs.max, "ms")
    rep.notes("lake_reads_tail") = s"slowest of ${xs.length} read kinds, each the median of $Passes passes"
    Kinds.zip(xs).foreach { case (k, x) => rep.put(s"scan.read_ms_p50.$k", x, "ms") }
  }
}
