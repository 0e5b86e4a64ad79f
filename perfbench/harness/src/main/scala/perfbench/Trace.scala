package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One traced interval: a step or query phase opened by the harness, or a
  * Spark job or stage reported by [[SpanListener]]. Times are epoch ms,
  * the clock Spark stamps its events with.
  */
final class Span(
    val id: Long,
    val parent: Long,
    val kind: String,
    val name: String,
    val layer: String,
    @volatile var start: Long) {
  @volatile var end: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
}

/** The in-memory span store. Spans stay in memory while the benchmark
  * runs and are written out once, at exit.
  */
object Trace {
  private val spans = mutable.ArrayBuffer[Span]()
  private val opened = mutable.ArrayBuffer[Span]() // the harness's own spans
  private var nextId = 1L

  def open(kind: String, name: String, layer: String, parent: Long, start: Long): Span =
    synchronized {
      val s = new Span(nextId, parent, kind, name, layer, start)
      nextId += 1
      spans += s
      s
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** The innermost harness span open at `time`: the parent of a job
    * submitted then. Listener events arrive late, so this goes by the
    * job's own submission time, not by what is open on delivery.
    */
  def parentAt(time: Long): Long = synchronized {
    opened.reverseIterator
      .find(s => s.start <= time && (s.end < 0 || s.end >= time)).map(_.id).getOrElse(0L)
  }

  /** Runs `body` inside a harness span, the parent of the jobs it submits. */
  def within[T](kind: String, name: String, layer: String)(body: => T): (T, Span) = {
    val s = open(kind, name, layer, 0L, System.currentTimeMillis())
    synchronized(opened += s)
    val r = body
    s.end = System.currentTimeMillis()
    (r, s)
  }

  /** The layer a job belongs to: the first program frame in the call
    * site Spark recorded for it (the long form, one frame per line).
    */
  def layerOf(callSite: String): String =
    Option(callSite).getOrElse("").split("\n").map(_.trim).collectFirst {
      case f if f.startsWith("graft.ingest.") => "ingest"
      case f if f.startsWith("graft.ops.") => "ops"
      case f if f.startsWith("graft.pipelines.") => "pipelines"
      case f if f.startsWith("graft.scale.") => "scale"
      case f if f.startsWith("graft.functions.") => "functions"
      case f if f.startsWith("graft.SparkEntry") => "SparkEntry"
      case f if f.startsWith("perfbench.") => "harness"
    }.getOrElse("other")

  def writeJsonl(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json(Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "layer" -> s.layer, "start" -> s.start, "end" -> s.end,
        "attrs" -> s.attrs.toMap)))
    } finally w.close()
  }
}

/** Records a span per Spark job and stage, with task totals per stage and
  * the peak bytes of cached blocks. Attached through `spark.extraListeners`
  * for the CLI mains, and directly for the board session.
  */
class SpanListener extends SparkListener {
  private val jobs = mutable.Map[Int, Span]()
  private val stageJob = mutable.Map[Int, Long]()
  private val stages = mutable.Map[(Int, Int), Span]()
  private val blocks = mutable.Map[String, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the job's call site is its result stage's: the highest stage id
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    val s = Trace.open("job", result.map(_.name).getOrElse(""),
      Trace.layerOf(result.map(_.details).orNull), Trace.parentAt(e.time), e.time)
    jobs(e.jobId) = s
    e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, s.id))
    SpanListener.openJobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach(_.end = e.time)
    SpanListener.openJobs.decrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stageSpan(e.stageId, e.stageAttemptId)
      s.add("tasks", 1)
      s.add("task_ms", m.executorRunTime.toDouble)
      s.add("gc_ms", m.jvmGCTime.toDouble)
      s.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("spill_b", m.diskBytesSpilled.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stageSpan(info.stageId, info.attemptNumber())
    s.attrs("num_tasks") = info.numTasks.toDouble
    info.submissionTime.foreach(s.start = _)
    s.end = info.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val bytes = info.memSize + info.diskSize
      if (info.storageLevel.isValid && bytes > 0) blocks(info.blockId.name) = bytes
      else blocks.remove(info.blockId.name)
      SpanListener.noteCache(blocks.values.sum)
    }
  }

  /** Each session's peak cached bytes, as an `app` span under the step. */
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    val app = Trace.open("app", "application", "engine", Trace.parentAt(e.time), e.time)
    app.end = e.time
    app.attrs("cache_peak_b") = SpanListener.cachePeakBytes.toDouble
    SpanListener.cachePeakBytes = 0L
  }

  private def stageSpan(stageId: Int, attempt: Int): Span =
    stages.getOrElseUpdate((stageId, attempt),
      Trace.open("stage", s"stage $stageId.$attempt", "engine",
        stageJob.getOrElse(stageId, 0L), System.currentTimeMillis()))
}

object SpanListener {
  val openJobs = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var cachePeakBytes = 0L

  def noteCache(bytes: Long): Unit = if (bytes > cachePeakBytes) cachePeakBytes = bytes

  /** Waits until every job the listener saw has ended: the bus is async. */
  def drain(timeoutMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (openJobs.get() > 0 && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }
}
