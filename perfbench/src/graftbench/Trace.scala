package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `op` is shared by an operation's span, its
  * `call`/`drive` children and the calls nested in them; `parent` is -1
  * for an operation span. */
final case class Span(id: Int, op: Int, pass: Int, name: String, parent: Int,
                      start: Long, end: Long)

/** Per-stage facts gathered from the listener bus. Times are epoch ms. */
final class StageRec(val stageId: Int, val group: String) {
  var submit = 0L; var complete = 0L
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var waitMs = 0L; var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
  var inRows = 0L; var inBytes = 0L; var outRows = 0L; var outBytes = 0L
  val peaks: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** Listener the benchmark registers for traced runs. Stages and jobs are
  * attributed to spans through the job group the tracer sets around each
  * call; Spark carries it into AQE's query-stage threads. */
final class Collector extends SparkListener {
  val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRec]()
  val jobs = new ConcurrentLinkedQueue[(Int, String)]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add((e.jobId, groupOf(e.properties)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    val r = stages.computeIfAbsent((i.stageId, i.attemptNumber()),
      _ => new StageRec(i.stageId, groupOf(e.properties)))
    r.submit = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stages.get((i.stageId, i.attemptNumber()))).foreach { r =>
      r.complete = i.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stages.get((e.stageId, e.stageAttemptId))
    if (r == null || e.taskMetrics == null) return
    val m = e.taskMetrics
    r.synchronized {
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.waitMs += math.max(0L, e.taskInfo.launchTime - r.submit)
      r.shuffleW += m.shuffleWriteMetrics.bytesWritten
      r.shuffleR += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.inRows += m.inputMetrics.recordsRead
      r.inBytes += m.inputMetrics.bytesRead
      r.outRows += m.outputMetrics.recordsWritten
      r.outBytes += m.outputMetrics.bytesWritten
      r.peaks += m.peakExecutionMemory
    }
  }
}

/** Streaming progress of every query the benchmark runs. */
final class StreamCollector extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Spans kept in memory and written at the end of the run. With tracing
  * off, `run` only times the operation; no job group or listener is
  * touched. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val collector = new Collector
  val streams = new StreamCollector
  /** Planning-phase totals of the results the operations drove. */
  val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var nextId = 0
  private var opId = 0
  var pass = -1 // < 0: warm-up, not recorded

  if (on) {
    spark.sparkContext.addSparkListener(collector)
    spark.streams.addListener(streams)
  }

  private def recording = on && pass >= 0

  private var current = -1 // innermost open span
  private var currentOp = 0

  private def group(id: Int) = s"p$pass/o$currentOp/s$id"

  private def timed[A](name: String, parent: Int)(body: => A): A = {
    val id = nextId; nextId += 1
    val outer = current
    current = id
    if (recording) spark.sparkContext.setJobGroup(group(id), name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      current = outer
      if (recording) {
        spans += Span(id, currentOp, pass, name, parent, t0, t1)
        if (outer >= 0) spark.sparkContext.setJobGroup(group(outer), name)
        else spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** One operation: `call` runs inside the public function (with any
    * eager jobs), `drive` turns its value into what the user receives. */
  def run[A, B](name: String)(call: => A)(drive: A => B): B = {
    opId += 1
    currentOp = opId
    val id = nextId; nextId += 1
    val t0 = System.nanoTime()
    try {
      val a = timed("call", id)(call)
      timed("drive", id)(drive(a))
    } finally {
      if (recording) spans += Span(id, currentOp, pass, name, -1, t0, System.nanoTime())
    }
  }

  /** A nested span for one public call inside an operation's `call`. */
  def within[A](name: String)(body: => A): A = timed(name, current)(body)

  /** Add the planning-phase times of a driven DataFrame. */
  def notePhases(df: org.apache.spark.sql.DataFrame): Unit =
    if (recording) {
      val ph = df.queryExecution.tracker.phases
      Seq("analysis" -> "spark.analyze_ms", "optimization" -> "spark.optimize_ms",
          "planning" -> "spark.plan_ms").foreach { case (k, m) =>
        ph.get(k).foreach(p => phases(m) += (p.endTimeMs - p.startTimeMs).toDouble)
      }
    }

  def stageRecs: Seq[StageRec] = collector.stages.values().asScala.toSeq
}

/** Interval arithmetic and self time, kept separate so it can be tested
  * without Spark. */
object Intervals {
  /** Total length covered by the union of [s, e) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `span` covered by the union of `iv`, clipped to the span. */
  def covered(span: (Long, Long), iv: Seq[(Long, Long)]): Long =
    unionLength(iv.map { case (s, e) => (math.max(s, span._1), math.min(e, span._2)) })

  /** Self time of every span: duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> ((s.end - s.start) - covered((s.start, s.end), c))
    }.toMap
  }
}
