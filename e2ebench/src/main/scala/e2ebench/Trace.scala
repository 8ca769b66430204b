package e2ebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A timed call from the benchmark into the program. Times are wall-clock
  * milliseconds, so they line up with Spark's event times.
  */
final case class Span(name: String, startMs: Long, endMs: Long, nanos: Long) {
  def ms: Double = nanos / 1e6
}

/** Spans recorded around calls into each layer, kept in memory. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]

  def time[T](name: String)(f: => T): (T, Span) = {
    val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val out = f
    val s = Span(name, w0, System.currentTimeMillis(), System.nanoTime() - t0)
    all += s
    (out, s)
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq
}

/** What the traced run learns of one Spark job. */
final class JobRec(val id: Int, val startMs: Long, val module: String) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var outputRecords = 0L
  var inputBytes = 0L
}

/** Counts jobs, stages and task metrics, each job attributed to the program
  * module that started it. A job inside a SQL execution takes the call site
  * of that execution (`SparkListenerSQLExecutionStart`), because AQE submits
  * most stages from a pool thread with no program frame; any other job
  * takes the call site of its first stage.
  */
final class JobListener extends SparkListener {
  private val execSite = mutable.Map.empty[Long, String]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSite(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = exec.flatMap(id => execSite.get(id.toLong))
      .orElse(e.stageInfos.sortBy(_.stageId).headOption.map(_.name)).getOrElse("")
    val rec = new JobRec(e.jobId, e.time, JobListener.module(site))
    rec.stages = e.stageInfos.size
    e.stageIds.foreach(stageJob(_) = rec)
    jobs(e.jobId) = rec
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      rec.tasks += 1
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.outputRecords += m.outputMetrics.recordsWritten
      rec.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Waits until every started job has ended and no event arrived for a
    * quarter second, or ten seconds passed.
    */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val (open, sig) = synchronized {
        (jobs.values.exists(_.endMs < 0), jobs.size.toLong * 1000003L + jobs.values.map(_.tasks).sum)
      }
      if (sig != last) { last = sig; stableSince = System.currentTimeMillis() }
      if (!open && System.currentTimeMillis() - stableSince > 250) return
      Thread.sleep(50)
    }
  }

  def within(s: Span): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs).toSeq
  }
}

object JobListener {
  /** Program module of a call site such as `parquet at Sink.scala:150`. */
  def module(site: String): String = {
    val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    file match {
      case "Pipeline.scala" => "pipeline"
      case "Sink.scala" | "Sinks.scala" => "sink"
      case "StateStore.scala" | "StateManagers.scala" => "state"
      case "Sources.scala" => "sources"
      case "Engine.scala" | "Search.scala" => "engine"
      case "Similarity.scala" => "similarity"
      case f if f.nonEmpty && Bench.ownFiles.contains(f) => "bench"
      case _ => "other"
    }
  }

  val modules: Seq[String] =
    Seq("pipeline", "sink", "state", "sources", "engine", "similarity", "bench", "other")

  /** Milliseconds of `s` during which no job of `jobs` was running. */
  def idleMs(s: Span, jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endMs - s.startMs - covered).toDouble
  }
}
