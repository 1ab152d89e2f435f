package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Samples the stacks of the threads a result waits on — the client
  * thread, the streaming query's execution thread and the executor task
  * threads — every few milliseconds and charges the interval since that
  * thread's previous sample to the module of its innermost `graft.`
  * frame: the module's thread time on the blocking path. Only one
  * client or one stream is active at a time, so every task sampled
  * serves the phase that runs. Streaming jobs all carry the call site
  * of `CdcPipeline.start`, so job call sites cannot split a trigger by
  * module; the stacks can. */
final class StackSampler(client: Thread, nowMs: () => Double) {
  val PeriodMs = 5L
  /** (sample time, charged ms, module). */
  val samples = new ConcurrentLinkedQueue[(Double, Double, String)]()
  @volatile private var running = true

  private def engineThreads(): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter { t =>
      t.getName.startsWith("stream execution thread") || t.getName.startsWith("Executor task launch worker")
    }

  private val thread = new Thread(() => {
    var engine = Seq.empty[Thread]
    var lastScan = 0.0
    val last = scala.collection.mutable.HashMap.empty[Long, Double]
    while (running) {
      val now = nowMs()
      if (now - lastScan > 500) { engine = engineThreads(); lastScan = now }
      (client +: engine).foreach { t =>
        val prev = last.getOrElse(t.getId, now)
        last(t.getId) = now
        StackSampler.moduleOf(t.getStackTrace).foreach(m => samples.add((now, now - prev, m)))
      }
      Thread.sleep(PeriodMs)
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }
}

object StackSampler {
  /** The module of the innermost frame of an engine class. */
  def moduleOf(stack: Array[StackTraceElement]): Option[String] =
    stack.find(f => isEngine(f.getClassName)).map(f => module(f.getClassName, f.getFileName))

  def isEngine(className: String): Boolean = className.startsWith("graft.") || className.contains(".graft.")

  /** The package below `graft` and the source file, which names the
    * module: `graft.catalog.PkBucketResolveScan` in `PkBucketScan.scala`
    * → `catalog.PkBucketScan`. Without a file name, the top-level class
    * stands in for it (`graft.catalog.Snapshots$` → `catalog.Snapshots`). */
  def module(className: String, fileName: String): String = {
    val parts = className.split('.').dropWhile(_ != "graft").drop(1)
    val file = Option(fileName).filter(_.endsWith(".scala")).map(_.stripSuffix(".scala"))
      .getOrElse(parts.last.takeWhile(_ != '$'))
    (parts.dropRight(1) :+ file).mkString(".")
  }

  /** The module of a call-site line such as
    * `graft.catalog.Snapshots$.commit(Snapshots.scala:12)`. */
  def moduleOfCallSite(line: String): String = {
    val cls = line.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
    val file = line.dropWhile(_ != '(').drop(1).takeWhile(c => c != ':' && c != ')')
    module(cls, file)
  }
}
