package graft.bench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Spans recorded by the benchmark around each call into a layer of the
  * program: name, start, end and the enclosing span. Kept in memory and
  * written out once when the run ends. With tracing off every call is a
  * plain pass-through, so the timed runs pay nothing for it.
  */
final class Trace(val on: Boolean) {
  import Trace.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val durS = (System.nanoTime() - t0) / 1e9
        stack = stack.tail
        done += Span(id, parent, name, startMs, System.currentTimeMillis(), durS)
      }
    }

  def write(path: String): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${Json.num(s.durS)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String,
                        startMs: Long, endMs: Long, durS: Double)
}

/** Spark's own job, stage and task counters, collected by a listener the
  * benchmark registers on its session (traced runs only). Jobs are
  * attributed to a span by their start time, which is exact here because
  * the benchmark calls the layers one at a time.
  */
final class JobStats extends SparkListener {
  import JobStats._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageWall = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val execDesc = mutable.HashMap.empty[Long, String]
  @volatile private var lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, exec)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    lastEventMs = System.currentTimeMillis()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageWall(i.stageId) = c - s
    lastEventMs = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    lastEventMs = System.currentTimeMillis()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execDesc(s.executionId) = s.description }
    case _ =>
  }

  /** Block until the listener bus has delivered every job's end event and
    * gone quiet (bounded): the counters are read after the work is done.
    */
  def settle(maxMs: Long = 10000L): Unit = {
    val t0 = System.currentTimeMillis()
    def open = synchronized(jobs.values.exists(_.endMs < 0))
    while (System.currentTimeMillis() - t0 < maxMs &&
           (open || System.currentTimeMillis() - lastEventMs < 300)) Thread.sleep(50)
  }

  /** Counters of the jobs that started inside [startMs, endMs]. */
  def window(startMs: Long, endMs: Long): Window = synchronized {
    val js = jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq
    val ids = js.map(_.id).toSet
    val ts = tasks.filter(t => stageJob.get(t.stageId).exists(ids.contains)).toSeq
    // busy time: the union of the jobs' [start, end] intervals
    val ivs = js.map(j => (j.startMs, if (j.endMs < 0) endMs else math.min(j.endMs, endMs)))
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    // skew: max over median task time in the window's longest stage
    val stagesHere = ts.map(_.stageId).distinct
    val skew = if (stagesHere.isEmpty) 0.0 else {
      val longest = stagesHere.maxBy(s => stageWall.getOrElse(s, 0L))
      val d = ts.filter(_.stageId == longest).map(_.runMs.toDouble).sorted
      val med = d(d.length / 2)
      if (med > 0) d.last / med else 1.0
    }
    Window(js.size, ts.size, ts.map(_.runMs).sum, ts.map(_.shuffleWrite).sum,
      ts.map(_.spill).sum, ts.map(_.bytesWritten).sum, busy, skew, js.map(_.id))
  }

  /** Task time of the given jobs whose SQL execution was started from a
    * call site with this prefix (e.g. `collect at CrawlRound.scala`).
    */
  def taskMsOfCallSite(jobIds: Seq[Int], prefix: String): (Long, Long) = synchronized {
    val sel = jobIds.flatMap(jobs.get)
      .filter(j => execDesc.get(j.execId).exists(_.startsWith(prefix)))
    val ids = sel.map(_.id).toSet
    val ms = tasks.filter(t => stageJob.get(t.stageId).exists(ids.contains)).map(_.runMs).sum
    val wall = sel.map(j => math.max(0L, j.endMs - j.startMs)).sum
    (ms, wall)
  }
}

object JobStats {
  final case class Job(id: Int, startMs: Long, var endMs: Long, execId: Long)
  final case class Task(stageId: Int, runMs: Long, shuffleWrite: Long,
                        spill: Long, bytesWritten: Long)
  final case class Window(jobs: Int, tasks: Int, taskMs: Long, shuffleBytes: Long,
                          spillBytes: Long, bytesWritten: Long, busyMs: Long,
                          skew: Double, jobIds: Seq[Int])
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString
}
