package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.cell.{CellBucketInputPartition, CellInputPartition}

/** Closed interval in epoch milliseconds (Spark's event clock). */
final case class Iv(start: Long, end: Long) {
  def ms: Long = math.max(0L, end - start)
}

final class StageRec(val id: Int, val op: String, val span: String) {
  var submit = 0L; var complete = 0L
  var tasks = 0; var runMs = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var bytesRead = 0L; var recordsRead = 0L; var lastTaskEnd = 0L
  def iv: Iv = Iv(submit, complete)
}

final class JobRec(val id: Int, val op: String, val span: String,
                   val start: Long, val stages: Seq[Int]) {
  var end = 0L
  def iv: Iv = Iv(start, end)
}

/** A graftcell scan of one op: the files its partitions read and the
  * rows the reader handed to Spark. */
final case class ScanRec(files: Seq[String], rowsOut: Long)

final class OpRec(val id: String, val kind: String, val start: Long,
                  val end: Long, val wallMs: Double, val ok: Boolean) {
  val spans = mutable.ArrayBuffer.empty[(String, Iv)]
  val phases = mutable.ArrayBuffer.empty[(String, Iv)]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val scans = mutable.ArrayBuffer.empty[ScanRec]
  var rows = 0L
}

/** Spans and counts of traced ops, collected from Spark's listener bus:
  * op (set by the harness) → query (planning phases from
  * `QueryExecution.tracker`) → job → stage, tied together by the
  * `perfbench.op` / `perfbench.span` local properties. Everything stays
  * in memory until the run writes its trace file. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var current: String = null
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageOwner = mutable.HashMap.empty[Int, (String, String)]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val phases = mutable.HashMap.empty[String, mutable.ArrayBuffer[(String, Iv)]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties).filter(_ => current != null)
    props.flatMap(p => Option(p.getProperty("perfbench.op"))).foreach { op =>
      val span = props.flatMap(p => Option(p.getProperty("perfbench.span"))).getOrElse("")
      jobs += new JobRec(e.jobId, op, span, e.time, e.stageIds)
      e.stageIds.foreach(s => stageOwner(s) = (op, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  private def stage(id: Int): Option[StageRec] =
    stageOwner.get(id).map { case (op, span) =>
      stages.getOrElseUpdate(id, new StageRec(id, op, span)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).foreach { s =>
      s.submit = e.stageInfo.submissionTime.getOrElse(0L)
      s.complete = e.stageInfo.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stage(e.stageId).foreach { s =>
      s.tasks += 1
      s.lastTaskEnd = math.max(s.lastTaskEnd, e.taskInfo.finishTime)
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.bytesRead += m.inputMetrics.bytesRead
        s.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private def notePhases(qe: QueryExecution): Unit = synchronized {
    val op = current
    if (op != null) {
      val buf = phases.getOrElseUpdate(op, mutable.ArrayBuffer.empty)
      qe.tracker.phases.foreach { case (name, p) =>
        buf += name -> Iv(p.startTimeMs, p.endTimeMs) }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    notePhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    notePhases(qe)
}

/** Finds the graftcell scans in an executed plan (adaptive plans
  * included) and the files their partitions were planned on. */
object Scans extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): Seq[ScanRec] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.getClass.getSimpleName == "GraftCellScan" =>
        val files = b.inputPartitions.collect {
          case p: CellInputPartition       => p.file
          case p: CellBucketInputPartition => p.base.file
        }.distinct
        ScanRec(files, b.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }
}

/** Times ops, counts attempts and failures, and in a traced run keeps
  * one [[OpRec]] per op with its spans and everything the [[Tracer]]
  * attributed to it. A failed op is never timed: it counts in `failed`
  * and leaves no latency sample. */
final class Recorder(spark: SparkSession, tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  /** Set for the traced half of a traced run. */
  var tracing = false

  /** Start the traced half: events of untraced ops are delivered first,
    * so none of them lands on a traced op. */
  def startTracing(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    tracing = true
  }
  val samples = mutable.ArrayBuffer.empty[(String, Double)]
  val tracedSamples = mutable.ArrayBuffer.empty[(String, Double)]
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var n = 0
  private val openSpans = mutable.ArrayBuffer.empty[(String, Iv)]
  private val openScans = mutable.ArrayBuffer.empty[ScanRec]
  private var openRows = 0L

  private def fail(what: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$what: $why"
    System.err.println(s"[perfbench] FAILED $what: $why")
  }

  /** One timed op of `kind`; `body` returns whether its output was right. */
  def op(kind: String)(body: => Boolean): Boolean = {
    n += 1
    val id = s"op$n"
    attempted += 1
    sc.setLocalProperty("perfbench.op", id)
    tracer.filter(_ => tracing).foreach(_.current = id)
    openSpans.clear(); openScans.clear(); openRows = 0L
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = try {
      val r = body
      if (!r) fail(s"$kind $id", "wrong output")
      r
    } catch {
      case e: Throwable =>
        fail(s"$kind $id", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    sc.setLocalProperty("perfbench.op", null)
    if (ok) (if (tracing) tracedSamples else samples) += kind -> ms
    if (tracing) tracer.foreach { t =>
      org.apache.spark.PerfbenchBus.drain(sc)
      t.current = null
      val r = new OpRec(id, kind, w0, w1, ms, ok)
      r.spans ++= openSpans; r.scans ++= openScans; r.rows = openRows
      t.synchronized {
        r.jobs ++= t.jobs.filter(_.op == id)
        r.phases ++= t.phases.remove(id).getOrElse(Nil)
      }
      ops += r
    }
    ok
  }

  /** A named span inside the current op, around a call into one module. */
  def span[T](name: String)(body: => T): T = {
    sc.setLocalProperty("perfbench.span", name)
    val w0 = System.currentTimeMillis()
    try body finally {
      openSpans += name -> Iv(w0, System.currentTimeMillis())
      sc.setLocalProperty("perfbench.span", null)
    }
  }

  /** Rows an op returned and, when tracing, the graftcell scans it ran. */
  def noteResult(df: DataFrame, rows: Long): Unit = {
    openRows += rows
    if (tracing) openScans ++= Scans.of(df)
  }

  /** An untimed output check; a false or throwing check counts as a
    * failed op. */
  def check(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable =>
        fail(what, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        return false
    }
    if (!ok) fail(what, "wrong output")
    ok
  }

  def stagesOf(r: OpRec, span: String = null): Seq[StageRec] = tracer match {
    case Some(t) => t.synchronized {
      r.jobs.filter(j => span == null || j.span == span)
        .flatMap(_.stages).flatMap(t.stages.get).filter(_.tasks > 0).toSeq
    }
    case None => Nil
  }
}

/** Per-op layer accounting of a traced op. Each millisecond of the op is
  * charged to the innermost layer active then: a running stage
  * (`exec`), else a running job (`scheduler`), else a planning phase
  * (`driver`), else the op itself (driver work outside any recorded
  * query phase, job or stage). The four self times therefore
  * add up to the op's wall time on the event clock; [[Layers.check]]
  * compares that with the op's own nanosecond timer and counts child
  * spans that leak outside their op. */
object Layers {
  final case class Self(op: Long, driver: Long, scheduler: Long, exec: Long) {
    def total: Long = op + driver + scheduler + exec
  }

  def self(r: OpRec, stages: Seq[StageRec]): Self = {
    val len = (r.end - r.start + 1).toInt
    val level = new Array[Byte](math.max(len, 0))
    def paint(iv: Iv, l: Byte): Unit = {
      var t = math.max(iv.start, r.start)
      val e = math.min(iv.end, r.end)
      while (t < e) {
        val i = (t - r.start).toInt
        if (level(i) < l) level(i) = l
        t += 1
      }
    }
    r.phases.foreach { case (_, iv) => paint(iv, 1) }
    r.jobs.foreach(j => paint(j.iv, 2))
    stages.foreach(s => paint(s.iv, 3))
    val counts = new Array[Long](4)
    var i = 0
    while (i < len - 1) { counts(level(i)) += 1; i += 1 }
    Self(counts(0), counts(1), counts(2), counts(3))
  }

  /** Tolerance for an op's layer sum against its own timer: the event
    * clock has millisecond resolution at both ends. */
  val TolMs = 2.0
  val TolFrac = 0.02

  /** (child spans outside their op, worst |layer sum − wall| in ms). */
  def check(r: OpRec, stages: Seq[StageRec]): (Int, Double) = {
    def outside(iv: Iv) = iv.start < r.start - TolMs || iv.end > r.end + TolMs
    val leaks = r.phases.count(p => outside(p._2)) + r.jobs.count(j => outside(j.iv)) +
      stages.count(s => outside(s.iv))
    val err = math.abs(self(r, stages).total - r.wallMs)
    (leaks, if (err <= TolMs + TolFrac * r.wallMs) 0.0 else err)
  }
}
