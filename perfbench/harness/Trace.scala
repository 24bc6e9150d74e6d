package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanoTime resolution, so harness
  * spans line up with the listener's epoch-millisecond event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final class Timer {
  private val t0 = System.nanoTime()
  def seconds: Double = (System.nanoTime() - t0) / 1e9
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case other => str(other.toString)
  }
}

/** In-memory JSON-lines buffer, written once when the run ends. */
final class Records {
  private val lines = mutable.ArrayBuffer.empty[String]
  def add(kind: String, fields: (String, Any)*): Unit = synchronized {
    lines += (("type" -> kind) +: fields)
      .map { case (k, v) => Json.str(k) + ":" + Json.value(v) }.mkString("{", ",", "}")
  }
  def writeTo(p: Path): Unit = synchronized {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Records {
  /** Order-insensitive digest of a result, to compare repeated passes. */
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Harness spans: run → pass → op → {extract, build, plan, action, sink}.
  * The op's job group is the span identifier that jobs carry. */
final class Spans(rec: Records) {
  private final class Open(val kind: String, val name: String, val parent: Int,
                           val group: String, val t0: Double) {
    var t1: Double = Double.NaN
  }
  private val all = mutable.ArrayBuffer.empty[Open]

  def open(kind: String, name: String, parent: Int, group: String): Int = {
    all += new Open(kind, name, parent, group, Clock.nowMs)
    all.size - 1
  }

  def close(id: Int): Unit = {
    val s = all(id)
    s.t1 = Clock.nowMs
    rec.add("span", "id" -> id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "group" -> s.group, "t0" -> s.t0, "t1" -> s.t1)
  }

  def seconds(id: Int): Double = (all(id).t1 - all(id).t0) / 1000

  def timed[T](kind: String, name: String, parent: Int, group: String)(body: => T): T = {
    val id = open(kind, name, parent, group)
    try body finally close(id)
  }
}

/** Reads Spark's own counters from outside the engine: one listener for
  * jobs, stages and tasks, one for Catalyst's per-action phase times. */
final class Tracer extends SparkListener {
  final class Job(val id: Int, val group: String, val submitMs: Long, val details: String,
                  val execDetails: String) {
    var endMs = 0L
    var ok = false
    var firstTaskMs = 0L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inRecords = 0L
    var inBytes = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var resultBytes = 0L
    var outBytes = 0L
    var outRecords = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** SQL execution id -> call site of the action, taken in the caller's
    * thread; jobs that adaptive execution submits from its own threads
    * carry only a thread-pool call site themselves. */
  private val executions = mutable.HashMap.empty[Long, String]
  private def jobOf(stageId: Int): Option[Job] = stageJob.get(stageId).flatMap(jobs.get)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { executions(s.executionId) = s.details }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val details = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val execDetails = prop("spark.sql.execution.id").flatMap(id => executions.get(id.toLong)).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, prop("spark.jobGroup.id").orNull, e.time, details, execDetails)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j => j.endMs = e.time; j.ok = e.jobResult == JobSucceeded }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOf(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    jobOf(e.stageId).foreach { j =>
      if (j.firstTaskMs == 0L) j.firstTaskMs = e.taskInfo.launchTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOf(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inRecords += m.inputMetrics.recordsRead
        j.inBytes += m.inputMetrics.bytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.resultBytes += m.resultSize
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** (callback epoch ms, action duration ms, Catalyst phase ms, ok) */
  private val actions = mutable.ArrayBuffer.empty[(Long, Double, Long, Boolean)]

  val qe: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        actions += ((System.currentTimeMillis(), durationNs / 1e6,
          qe.tracker.phases.values.map(_.durationMs).sum, true))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      Tracer.this.synchronized {
        actions += ((System.currentTimeMillis(), 0.0, qe.tracker.phases.values.map(_.durationMs).sum, false))
      }
  }

  /** Call after the session stopped: stopping drains the listener bus. */
  def write(rec: Records): Unit = synchronized {
    jobs.values.foreach { j =>
      rec.add("job", "id" -> j.id, "group" -> j.group, "submit" -> j.submitMs, "end" -> j.endMs,
        "first_task" -> j.firstTaskMs, "ok" -> j.ok, "stages" -> j.stages, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "in_records" -> j.inRecords, "in_bytes" -> j.inBytes,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead, "spill" -> j.spill,
        "result_bytes" -> j.resultBytes, "out_bytes" -> j.outBytes, "out_records" -> j.outRecords,
        "details" -> j.details, "exec_details" -> j.execDetails)
    }
    actions.foreach { case (end, dur, tracker, ok) =>
      rec.add("qe", "end" -> end, "duration_ms" -> dur, "tracker_ms" -> tracker, "ok" -> ok)
    }
  }
}
