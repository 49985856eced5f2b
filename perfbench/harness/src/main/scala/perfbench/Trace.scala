package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded span: a call the benchmark made into a layer. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, startMs: Long, var endNs: Long = -1L,
                      var endMs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the listeners saw for one finished task. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runS: Double,
                         cpuS: Double, gcS: Double, inputBytes: Long,
                         inputRecords: Long, shuffleReadRecords: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         shuffleWriteRecords: Long, shuffleWriteWaitS: Double,
                         fetchWaitS: Double, spillBytes: Long)

/** One streaming micro-batch progress report. */
final case class BatchRec(triggerS: Double, addBatchS: Double, planningS: Double,
                          commitS: Double, stateRows: Long, stateBytes: Long,
                          droppedLate: Long)

/** Spans kept in memory plus the counters of the listeners the benchmark
  * registers itself. Jobs are tied to spans through the job group the
  * benchmark sets around every call, so each span can be asked for the
  * jobs, stages and tasks it caused. A streaming query runs its
  * micro-batch jobs under its own job group, its run id; the run id is
  * tied to the span that started the query, which gets those jobs and
  * the query's progress reports however late the bus delivers them.
  * `enabled = false` makes every span a plain call (the untraced reps). */
final class Trace(spark: SparkSession, runId: String) {
  @volatile var enabled = false
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private val GroupPrefix = "perfbench-"

  // listener state, written on the listener-bus and stream threads
  private val jobGroup = mutable.Map.empty[Int, Int]     // job -> span
  private val stageSpan = mutable.Map.empty[Int, Int]    // stage -> span
  private val stageCount = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskRec]]
  private val batches = mutable.Map.empty[Int, mutable.ArrayBuffer[BatchRec]]
  private val queryRuns = mutable.Map.empty[String, Int] // stream run id -> span
  @volatile private var streamSpan = -1

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).map { g =>
      if (g.startsWith(GroupPrefix)) g.stripPrefix(GroupPrefix).toInt
      else queryRuns.getOrElse(g, -1)
    }.getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val s = spanOf(e.properties)
      if (s >= 0) {
        jobGroup(e.jobId) = s
        e.stageIds.foreach(st => stageSpan(st) = s)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(s => stageCount(s) += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageSpan.get(e.stageId).foreach { s =>
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        tasks.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += TaskRec(
          e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          sr.recordsRead, sr.totalBytesRead, sw.bytesWritten, sw.recordsWritten,
          sw.writeTime / 1e9, sr.fetchWaitTime / 1e3,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    // delivered on the query's thread before `start()` returns, so while
    // the span that started it is still open
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized {
        if (streamSpan >= 0) queryRuns(e.runId.toString) = streamSpan
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        queryRuns.get(e.progress.runId.toString).foreach { s =>
          val p = e.progress
          def d(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
          val ops = p.stateOperators.toSeq
          batches.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += BatchRec(
            d("triggerExecution"), d("addBatch"), d("queryPlanning"),
            d("walCommit") + d("commitOffsets"),
            ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
            ops.map(_.numRowsDroppedByWatermark).sum)
        }
      }
  }

  def attach(): Unit = {
    sc.addSparkListener(listener); spark.streams.addListener(streamListener); enabled = true
  }
  def detach(): Unit = {
    drain(); sc.removeSparkListener(listener); spark.streams.removeListener(streamListener)
    enabled = false
  }
  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchbus.Bus.drain(sc)

  /** Run `body` as a span named `name` under the current span. Jobs it
    * starts carry the span's job group; with `stream = true` the streaming
    * queries it starts, with their jobs and progress reports, count to it. */
  def span[T](name: String, stream: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val sp = Span(spans.size, name, current, runId, System.nanoTime(),
          System.currentTimeMillis())
        spans += sp; sp
      }
      val parent = current
      current = s.id
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = true)
      if (stream) streamSpan = s.id
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        if (stream) streamSpan = -1
        current = parent
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "", interruptOnCancel = true)
      }
    }

  /** Index of the next span; `spansFrom(mark)` returns what opened since. */
  def mark: Int = synchronized(spans.size)
  def spansFrom(from: Int): Seq[Span] = synchronized(spans.drop(from).toSeq)

  /** The span and every span nested under it. */
  def subtree(root: Span): Seq[Span] = synchronized {
    val ids = mutable.Set(root.id)
    spans.drop(root.id + 1).foreach(s => if (ids(s.parent)) ids += s.id)
    spans.filter(s => ids(s.id)).toSeq
  }

  /** Length of the union of the intervals `iv`, clipped to [lo, hi]. */
  private def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L; var upTo = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    covered
  }

  /** Span duration minus the part of it covered by direct children. */
  def selfSeconds(s: Span): Double = synchronized {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    (s.endNs - s.startNs - union(kids, s.startNs, s.endNs)) / 1e9
  }

  /** Wall time inside `s` during which no task of `ss` was running. */
  def idleSeconds(s: Span, ss: Seq[Span]): Double =
    (s.endMs - s.startMs - union(tasksOf(ss).map(t => (t.launchMs, t.finishMs)), s.startMs, s.endMs)) / 1e3

  def jobsOf(ss: Seq[Span]): Int = synchronized {
    val ids = ss.map(_.id).toSet; jobGroup.values.count(ids)
  }
  def stagesOf(ss: Seq[Span]): Int = synchronized(ss.map(s => stageCount(s.id)).sum)
  def tasksOf(ss: Seq[Span]): Seq[TaskRec] = synchronized(ss.flatMap(s => tasks.getOrElse(s.id, Nil)))
  def batchesOf(ss: Seq[Span]): Seq[BatchRec] = synchronized(ss.flatMap(s => batches.getOrElse(s.id, Nil)))

  /** Spans as JSON lines, written when the run ends. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.toSeq).filter(_.endNs >= 0).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run":${Json.str(s.run)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
