package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span tags every job it
  * launches with its name as the Spark job group; one listener attributes
  * those jobs and their tasks back to the span. Spans are written out when
  * the run ends, and the per-span metrics are derived from them:
  *
  *   - wall_s: span duration;
  *   - driver_only_s: span time during which none of its jobs ran;
  *   - jobs, task_cpu_s, gc_s, shuffle_mb (shuffle bytes written),
  *     spill_mb (bytes spilled to disk);
  *   - task_skew: max task run time / median task run time.
  */
final class Tracer(sc: SparkContext) {

  final case class Span(name: String, parent: String, startMs: Long, endMs: Long)

  private final case class Job(group: String, start: Long, var end: Long)
  private final case class Task(group: String, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = Job(g, e.time, -1L)
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(stageGroup.getOrElse(e.stageId, null),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
  }
  sc.addSparkListener(listener)

  /** Runs `body` as span `name`; every job it launches carries the name.
    * An enclosing span (`tagJobs = false`) only records its interval, so
    * its children keep their own job groups. */
  def span[A](name: String, parent: String = "", tagJobs: Boolean = true)(body: => A): A = {
    if (tagJobs) sc.setJobGroup(name, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(name, parent, t0, System.currentTimeMillis())
      if (tagJobs) sc.clearJobGroup()
    }
  }

  /** Waits for the listener to see every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def close(): Unit = { drain(); sc.removeSparkListener(listener) }

  /** Metrics of the (last) span called `name`; zeros when it never ran. */
  def metrics(name: String): Map[String, Double] = listener.synchronized {
    spans.reverseIterator.find(_.name == name) match {
      case None => (Tracer.StageFields :+ "spill_mb").map(_ -> 0.0).toMap
      case Some(s) =>
        val js = jobs.values.filter(_.group == name).toSeq
        val busy = union(js.map(j => (math.max(j.start, s.startMs),
          math.min(if (j.end < 0) s.endMs else j.end, s.endMs))))
        val ts = tasks.filter(_.group == name).toSeq
        val runs = ts.map(_.runMs).sorted
        val median = if (runs.isEmpty) 0L else runs(runs.size / 2)
        Map(
          "wall_s" -> (s.endMs - s.startMs) / 1e3,
          "driver_only_s" -> math.max(0L, s.endMs - s.startMs - busy) / 1e3,
          "jobs" -> js.size.toDouble,
          "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
          "gc_s" -> ts.map(_.gcMs).sum / 1e3,
          "shuffle_mb" -> ts.map(_.shuffleBytes).sum / Tracer.MiB,
          "spill_mb" -> ts.map(_.spillBytes).sum / Tracer.MiB,
          "task_skew" -> (if (runs.isEmpty) 0.0 else runs.last.toDouble / math.max(median, 1L)))
    }
  }

  /** Total length of a set of [start, end) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def spansJson: String = listener.synchronized {
    spans.map { s =>
      val m = metrics(s.name).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"name":"${s.name}","parent":"${s.parent}","start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},$m}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  val MiB: Double = 1024.0 * 1024.0
  /** The fields reported per layer. spill_mb is reported once, summed over
    * the layers: it reads 0 at the benchmark's scale. */
  val StageFields: Seq[String] = Seq(
    "wall_s", "driver_only_s", "jobs", "task_cpu_s", "gc_s", "shuffle_mb", "task_skew")
  val QueryFields: Seq[String] = Seq("wall_s", "driver_only_s", "jobs", "task_cpu_s", "shuffle_mb")
}
