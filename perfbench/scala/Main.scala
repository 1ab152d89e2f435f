package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up every phase, run the timed
  * phases back to back (cdc_stream, lake_writes, lake_reads, batch_ops;
  * lake_reads needs lake_writes),
  * check every output, and write the report as JSON.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --dir <work dir> --panel <panel input dir>
  *                  [--cores <n>] [--phases <p1,p2,...>]
  */
object Main {
  val Phases = Seq("cdc_stream", "lake_writes", "lake_reads", "batch_ops")
  /** The cdc_stream open loop lasts a fixed number of triggers, capped at
    * `--seconds`; the other phases run a fixed amount of work. Together
    * the timed phases take about `--seconds` on a 4-core host. */

  /** Runs `body` on its own thread when `on`; the returned function
    * waits for it and gives its result (if it ran) and its duration. */
  private def background[T](on: Boolean)(body: => T): () => (Option[T], Double) = {
    if (!on) return () => (None, 0.0)
    var result: Either[Throwable, (T, Double)] = null
    val th = new Thread(() => {
      val t0 = System.nanoTime()
      result = try Right((body, (System.nanoTime() - t0) / 1e6)) catch { case e: Throwable => Left(e) }
    })
    th.start()
    () => {
      th.join()
      result match {
        case Right((r, ms)) => (Some(r), ms)
        case Left(e) => throw e
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, "arguments come as --name value pairs")
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = Workload.byName(o("workload"))
    val seconds = o("seconds").toDouble
    val cores = o.getOrElse("cores", "4").toInt
    val phases = o.get("phases").fold(Phases)(_.split(',').toSeq)
    require(phases.forall(Phases.contains), s"phases: ${Phases.mkString(",")}")
    val dir = Paths.get(o("dir")).toAbsolutePath
    Files.createDirectories(dir)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("spark_local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (o("trace") == "1") Some(new Tracer(spark, dir.resolve("cdc/state"))) else None
    val rep = new Report
    val ctx = Ctx(spark, dir, o("seed").toLong, workload, tracer, rep)
    def now = System.currentTimeMillis().toDouble
    val sessionMs = now - jvmStart
    val has = phases.toSet
    val panel = o.getOrElse("panel", "")

    // ---- set-up: the lake load, the panel's first pass and the
    // pipeline's first trigger run side by side; none of them is timed
    // but together they are set-up time ----
    val cdcSetup = background(has("cdc_stream"))(CdcStream.setup(ctx))
    val panelSetup = background(has("batch_ops"))(BatchOps.setup(ctx, panel))
    val t = now
    val lake = if (has("lake_writes")) Some(LakeWrites.setup(ctx)) else None
    val loadMs = now - t
    val (cdc, cdcMs) = cdcSetup()
    val (_, panelMs) = panelSetup()

    rep.put("setup_s", (now - jvmStart) / 1000.0, "s")
    rep.put("setup.session_ms", sessionMs, "ms")
    rep.put("setup.load_ms", loadMs, "ms")
    rep.put("setup.warmup_ms", cdcMs + panelMs, "ms")

    // ---- timed phases ----
    def timedPhase(name: String)(body: => Unit): Unit = {
      System.gc()
      val a = tracer.fold(0.0)(_.nowMs)
      val t0 = now
      body
      rep.notes(s"wall_s.$name") = f"${(now - t0) / 1000}%.1f"
      tracer.foreach(tr => tr.window(name, a, tr.nowMs))
    }
    cdc.foreach(st => timedPhase("cdc_stream")(CdcStream.run(ctx, st, seconds)))
    cdc.foreach(_.live.stop())
    lake.foreach(l => timedPhase("lake_writes")(LakeWrites.run(ctx, l)))
    // lake_reads reads what lake_writes left; its parquet copy and
    // expected checksums are built between the two, untimed
    if (has("lake_reads")) lake.map(LakeReads.prepare(ctx, _))
      .foreach(st => timedPhase("lake_reads")(LakeReads.run(ctx, st)))
    if (has("batch_ops")) timedPhase("batch_ops")(BatchOps.run(ctx, panel))

    // ---- output checks (untimed) ----
    val checks0 = now
    val spans = tracer.map(_.finish(rep))
    cdc.foreach(CdcStream.check(ctx, _))
    lake.foreach(LakeWrites.check(ctx, _))

    rep.notes("wall_s.checks") = f"${(now - checks0) / 1000}%.1f"
    rep.put("failed_ops_ratio", rep.failed.toDouble / math.max(1L, rep.attempted), "ratio")
    Files.writeString(dir.resolve("report.json"), rep.json)
    // spans stay in memory until here, and are written once
    spans.foreach(s => Files.writeString(dir.resolve("spans.jsonl"), s.mkString("", "\n", "\n")))
    spark.stop()
  }
}
