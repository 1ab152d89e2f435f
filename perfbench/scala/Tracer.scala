package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It uses only listeners it registers
  * itself — a `SparkListener`, a `QueryExecutionListener` and a
  * `StreamingQueryListener` — plus one span per public call the
  * benchmark makes (statement, refresh, read, panel query) and one per
  * streaming trigger. SQL executions and Spark jobs become the child
  * spans of the operation whose interval holds their start, so they
  * share its id. Everything stays in memory until [[finish]]. */
final class Tracer(spark: SparkSession, stateDir: java.nio.file.Path) {
  private val n0 = System.nanoTime()
  private val m0 = System.currentTimeMillis().toDouble
  def nowMs: Double = m0 + (System.nanoTime() - n0) / 1e6

  final case class Span(id: Int, phase: String, kind: String, start: Double, var end: Double)
  final case class Job(id: Int, start: Double, module: String, stages: Seq[Int]) { var end: Double = start }
  final case class StageM(tasks: Int, cpuMs: Double, gcMs: Double, shuffleRead: Long,
                          shuffleWrite: Long, input: Long)
  final case class Catalyst(start: Double, analysis: Double, optimizer: Double, planning: Double, files: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = TrieMap.empty[Int, Job]
  private val stageMetrics = TrieMap.empty[Int, StageM]
  private val sqlStarts = TrieMap.empty[Long, Double]
  private val sqlExecs = new ConcurrentLinkedQueue[(Double, Double)]()
  private val catalyst = new ConcurrentLinkedQueue[Catalyst]()
  private val triggers = new ConcurrentLinkedQueue[(Double, Double, Long)]()
  private val windows = mutable.LinkedHashMap.empty[String, (Double, Double)]
  private val sampler = new StackSampler(Thread.currentThread(), () => nowMs)
  /** State-store bucket directories (`table/v=N/__b=B`) seen so far, and
    * how many new ones each trigger left behind. */
  private val bucketsSeen = mutable.HashSet.empty[String]
  private val bucketsPerTrigger = new ConcurrentLinkedQueue[(Double, Int)]()

  private def bucketDirs(): Seq[String] =
    if (!java.nio.file.Files.exists(stateDir)) Nil
    else {
      val s = java.nio.file.Files.walk(stateDir, 3)
      try s.iterator().asScala.map(stateDir.relativize(_).toString).filter(_.contains("__b=")).toVector
      finally s.close()
    }

  def begin(phase: String, kind: String): Int = synchronized {
    spans += Span(spans.length, phase, kind, nowMs, Double.NaN); spans.length - 1
  }
  def end(id: Int): Unit = synchronized { spans(id).end = nowMs }
  /** Marks a timed phase's interval; only spans inside one are counted. */
  def window(phase: String, start: Double, end: Double): Unit = windows(phase) = (start, end)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val frame = e.stageInfos.iterator.flatMap(_.details.linesIterator.map(_.trim))
        .find(l => StackSampler.isEngine(l.takeWhile(_ != '(')))
      jobs(e.jobId) = Job(e.jobId, e.time.toDouble, frame.fold("other")(StackSampler.moduleOfCallSite), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      stageMetrics(si.stageId) =
        if (tm == null) StageM(si.numTasks, 0, 0, 0, 0, 0)
        else StageM(si.numTasks, tm.executorCpuTime / 1e6, tm.jvmGCTime.toDouble,
          tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
          tm.inputMetrics.bytesRead)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts(s.executionId) = s.time.toDouble
      case s: SparkListenerSQLExecutionEnd =>
        sqlStarts.remove(s.executionId).foreach(t => sqlExecs.add((t, s.time.toDouble)))
      case _ => ()
    }
  }

  /** Identities of the query executions already recorded: a statement's
    * outer execution can reach both [[command]] and the listener. */
  private val recorded = TrieMap.empty[Int, Unit]

  private object planHelper extends AdaptiveSparkPlanHelper

  private def record(qe: QueryExecution, executed: Boolean): Unit =
    if (recorded.putIfAbsent(System.identityHashCode(qe), ()).isEmpty) {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).fold(0.0)(p => (p.endTimeMs - p.startTimeMs).toDouble)
      val start = ph.get("analysis").orElse(ph.values.headOption).fold(nowMs)(_.startTimeMs.toDouble)
      val files = if (!executed) 0L else planHelper.collectWithSubqueries(qe.executedPlan) {
        case p => p.metrics.get("numFiles") }.flatten.map(_.value).sum
      catalyst.add(Catalyst(start, ms("analysis"), ms("optimization"), ms("planning"), files))
    }

  /** Records the outer query execution of a statement `spark.sql` ran
    * eagerly (UPDATE, DELETE, MERGE). Its analysis holds the row-level
    * rewrite; the listener sees only the inner execution of the rewritten
    * command, whose plan arrives already analysed. */
  def command(df: DataFrame): Unit = record(df.queryExecution, executed = false)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, executed = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, executed = true)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val s = Instant.parse(p.timestamp).toEpochMilli.toDouble
      triggers.add((s, s + p.durationMs.get("triggerExecution").doubleValue(), p.numInputRows))
      // the next trigger writes nothing for seconds: list now, before
      // a later commit expires this one's versions
      val fresh = bucketDirs().filterNot(bucketsSeen)
      bucketsSeen ++= fresh
      bucketsPerTrigger.add((s, fresh.length))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Unregisters, waits for the listener bus to deliver what is queued,
    * folds spans and their children into per-layer metrics, and returns
    * one JSON line per span with its child jobs. */
  def finish(rep: Report): Seq[String] = {
    Thread.sleep(1500)
    sampler.stop()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)

    val client = synchronized(spans.toVector)
    // trigger spans number on from the client's (timed-phase filtering below)
    val trig = triggers.asScala.toSeq.filter(_._3 > 0).zipWithIndex.map { case ((s, e, _), i) =>
      Span(client.length + i, "cdc_stream", "trigger", s, e)
    }
    val all = client ++ trig
    val jobList = jobs.values.toSeq.sortBy(_.start)
    val sql = sqlExecs.asScala.toSeq
    val cat = catalyst.asScala.toSeq
    def inside(s: Span, t: Double) = t >= s.start - 1 && t <= s.end + 1
    final case class Agg(span: Span, jobs: Seq[Job], sqls: Int, cat: Seq[Catalyst]) {
      val dur = span.end - span.start
      lazy val st: Seq[StageM] = jobs.flatMap(_.stages).flatMap(stageMetrics.get)
      /** Time the span's jobs cover (the union of their intervals). */
      lazy val busy: Double = {
        var covered = 0.0
        var reach = Double.MinValue
        jobs.map(j => (math.max(j.start, span.start), math.min(j.end, span.end))).sortBy(_._1).foreach {
          case (a, b) if b > a =>
            if (a > reach) { covered += b - a; reach = b }
            else if (b > reach) { covered += b - reach; reach = b }
          case _ => ()
        }
        covered
      }
    }
    def timedSpan(s: Span) = windows.get(s.phase).exists { case (a, b) => s.start >= a - 1 && s.start <= b }
    val aggs = all.filter(timedSpan).map { s =>
      Agg(s, jobList.filter(j => inside(s, j.start)), sql.count(x => inside(s, x._1)), cat.filter(c => inside(s, c.start)))
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    def of(phase: String, kindPrefix: String) =
      aggs.filter(a => a.span.phase == phase && a.span.kind.startsWith(kindPrefix))

    // streaming: counters per trigger
    val tr = of("cdc_stream", "trigger")
    rep.put("streaming.jobs_per_trigger", mean(tr.map(_.jobs.length.toDouble)), "count")
    rep.put("streaming.tasks_per_trigger", mean(tr.map(_.st.map(_.tasks.toDouble).sum)), "count")
    rep.put("streaming.sql_execs_per_trigger", mean(tr.map(_.sqls.toDouble)), "count")
    rep.put("state.buckets_written_per_trigger", mean(bucketsPerTrigger.asScala.toSeq.filter { case (s, _) =>
      tr.exists(_.span.start == s) }.map(_._2.toDouble)), "count")

    // blocking-path time by module (sampled driver stacks), per
    // operation of the phase it falls in, summed over the phases
    val modules = Seq("cdc.Upsert", "streaming.BucketedStateStore", "operators.Revenue",
      "catalog.Snapshots", "catalog.ChangelogProducer", "catalog.MaterializedView", "catalog.PkBucketScan")
    val samples = sampler.samples.asScala.toSeq
    modules.foreach { m =>
      val perPhase = windows.toSeq.map { case (ph, (a, b)) =>
        val ops = math.max(1, aggs.count(_.span.phase == ph))
        ph -> samples.filter { case (t, _, mod) => mod == m && t >= a && t <= b }.map(_._2).sum / ops
      }
      rep.put(s"job_ms.$m", perPhase.map(_._2).sum, "ms/op")
      rep.notes(s"job_ms.$m") = perPhase.map { case (ph, v) => f"$ph $v%.1f" }.mkString(", ")
    }

    // catalyst phases per DML, per refresh, per read
    Seq("dml" -> of("lake_writes", "dml."), "refresh" -> of("lake_writes", "refresh"),
      "read" -> of("lake_reads", "read.")).foreach { case (k, as) =>
      rep.put(s"catalyst.analysis_ms_per_$k", mean(as.map(_.cat.map(_.analysis).sum)), "ms")
      rep.put(s"catalyst.optimizer_ms_per_$k", mean(as.map(_.cat.map(_.optimizer).sum)), "ms")
      rep.put(s"catalyst.planning_ms_per_$k", mean(as.map(_.cat.map(_.planning).sum)), "ms")
    }
    val dml = of("lake_writes", "dml.")
    rep.put("catalog.sql_execs_per_dml", mean(dml.map(_.sqls.toDouble)), "count")
    rep.put("catalog.jobs_per_dml", mean(dml.map(_.jobs.length.toDouble)), "count")
    rep.put("catalog.driver_gap_ms_per_dml", mean(dml.map(a => a.dur - a.busy)), "ms")
    val ref = of("lake_writes", "refresh")
    rep.put("mv.jobs_per_refresh", mean(ref.map(_.jobs.length.toDouble)), "count")
    rep.put("mv.sql_execs_per_refresh", mean(ref.map(_.sqls.toDouble)), "count")
    rep.put("mv.scan_bytes_per_refresh", mean(ref.map(_.st.map(_.input.toDouble).sum)), "B")
    rep.put("mv.shuffle_bytes_per_refresh", mean(ref.map(_.st.map(_.shuffleWrite.toDouble).sum)), "B")
    val reads = of("lake_reads", "read.")
    rep.put("scan.jobs_per_read", mean(reads.map(_.jobs.length.toDouble)), "count")
    rep.put("scan.bytes_per_read", mean(reads.map(_.st.map(_.input.toDouble).sum)), "B")
    val filesPerRead = mean(reads.map(_.cat.map(_.files.toDouble).sum))
    rep.put("scan.files_per_read", filesPerRead, "count")
    rep.metrics.get("scan.live_files").foreach { case (live, _) =>
      rep.put("scan.files_read_ratio", if (live > 0) filesPerRead / live else 0.0, "ratio")
    }
    // the panel's one timed pass
    val panel = of("batch_ops", "q_")
    rep.put("ops.catalyst_ms", panel.flatMap(_.cat).map(c => c.analysis + c.optimizer + c.planning).sum, "ms")
    rep.put("ops.tasks", panel.flatMap(_.st).map(_.tasks.toDouble).sum, "count")
    rep.put("ops.shuffle_bytes", panel.flatMap(_.st).map(_.shuffleWrite.toDouble).sum, "B")

    // whole-engine counters per operation of each timed phase
    windows.keys.foreach { ph =>
      val as = aggs.filter(_.span.phase == ph)
      val n = math.max(1, as.length).toDouble
      val st = as.flatMap(_.st)
      rep.put(s"spark.$ph.jobs", as.map(_.jobs.length).sum / n, "count/op")
      rep.put(s"spark.$ph.stages", st.length / n, "count/op")
      rep.put(s"spark.$ph.tasks", st.map(_.tasks).sum / n, "count/op")
      rep.put(s"spark.$ph.task_cpu_ms", st.map(_.cpuMs).sum / n, "ms/op")
      rep.put(s"spark.$ph.gc_ms", st.map(_.gcMs).sum / n, "ms/op")
      rep.put(s"spark.$ph.shuffle_read_bytes", st.map(_.shuffleRead.toDouble).sum / n, "B/op")
      rep.put(s"spark.$ph.shuffle_write_bytes", st.map(_.shuffleWrite.toDouble).sum / n, "B/op")
      rep.put(s"spark.$ph.job_busy_ms", as.map(_.busy).sum / n, "ms/op")
      rep.put(s"spark.$ph.driver_gap_ms", as.map(a => a.dur - a.busy).sum / n, "ms/op")
    }
    aggs.map { a =>
      val s = a.span
      f"""{"id": ${s.id}, "phase": "${s.phase}", "kind": "${s.kind}", "start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f, "jobs": ${a.jobs.map(j => s"""{"id": ${j.id}, "module": "${j.module}", "ms": ${j.end - j.start}}""").mkString("[", ", ", "]")}, "sql_execs": ${a.sqls}, "self_ms": ${a.dur - a.busy}%.3f}"""
    }
  }
}
