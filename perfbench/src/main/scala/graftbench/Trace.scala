package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Internals

import scala.collection.mutable

/** Spans around the public calls of one operation. Untraced, a step is
  * just its body; traced, it records the step's interval. */
final case class Span(name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

final class Steps(val traced: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** Per-op facts a workload adds (rounds, cache expectation, ...). */
  val info: mutable.Map[String, Double] = mutable.Map.empty
  /** The frame the op collected, for plan figures read after the op. */
  var frame: org.apache.spark.sql.DataFrame = null

  def step[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val t0 = Clock.nowMs()
      val out = body
      spans += Span(name, t0, Clock.nowMs())
      out
    }
}

/** Wall clock in ms with sub-ms resolution, on the same epoch as Spark's
  * listener event times. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Collects Spark job, stage and task events from outside the program
  * and attributes them to the steps of the operation they ran in. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time.toDouble, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime.toDouble,
      m.executorCpuTime / 1e6, m.jvmGCTime.toDouble, m.inputMetrics.bytesRead.toDouble,
      m.shuffleReadMetrics.totalBytesRead.toDouble,
      m.shuffleWriteMetrics.bytesWritten.toDouble,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
  }

  /** Forget everything seen so far (e.g. the previous op's check). */
  def reset(): Unit = {
    Internals.drainListenerBus(spark.sparkContext)
    synchronized { jobs.clear(); tasks.clear() }
  }

  /** Layer figures of the op whose spans are in `st`, whose wall
    * interval is [startMs, endMs]. */
  def attribute(st: Steps, startMs: Double, endMs: Double): Map[String, Double] = {
    Internals.drainListenerBus(spark.sparkContext)
    // reset() ran just before the op, so every job seen belongs to it
    val (opJobs, ts) = synchronized { (jobs.values.toVector, tasks.toVector) }
    opJobs.foreach(j => if (j.endMs.isNaN) j.endMs = endMs)
    // a job belongs to the last step that started at or before it
    def stepOf(j: Job): String =
      st.spans.filter(_.startMs <= j.startMs + 1).lastOption.map(_.name).getOrElse("?")
    val jobsOf = opJobs.groupBy(stepOf)
    val out = mutable.Map.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    def figures(prefix: String, js: Seq[Job], lo: Double, hi: Double): Unit = {
      val stages = js.flatMap(_.stages).toSet
      val mine = ts.filter(t => stages(t.stage))
      add(s"$prefix.jobs", js.size)
      add(s"$prefix.job_ms", unionMs(js.map(j => (j.startMs, j.endMs)), lo, hi))
      add(s"$prefix.stages", stages.size)
      add(s"$prefix.tasks", mine.size)
      add(s"$prefix.task_run_ms", mine.map(_.runMs).sum)
      add(s"$prefix.task_cpu_ms", mine.map(_.cpuMs).sum)
      add(s"$prefix.gc_ms", mine.map(_.gcMs).sum)
      add(s"$prefix.input_bytes", mine.map(_.inputBytes).sum)
      add(s"$prefix.shuffle_read_bytes", mine.map(_.shuffleRead).sum)
      add(s"$prefix.shuffle_write_bytes", mine.map(_.shuffleWrite).sum)
      add(s"$prefix.spill_bytes", mine.map(_.spill).sum)
    }
    st.spans.foreach { s =>
      add(s"${s.name}.ms", s.ms)
      figures(s.name, jobsOf.getOrElse(s.name, Nil), s.startMs, s.endMs)
    }
    figures("op", opJobs, startMs, endMs)
    out("op.wall_ms") = endMs - startMs
    out("op.driver_gap_ms") = out("op.wall_ms") - out("op.job_ms")
    out.toMap
  }

}

object Tracer {
  final case class Job(id: Int, startMs: Double, stages: Seq[Int]) {
    var endMs: Double = Double.NaN
  }
  final case class Task(stage: Int, runMs: Double, cpuMs: Double, gcMs: Double,
                        inputBytes: Double, shuffleRead: Double,
                        shuffleWrite: Double, spill: Double)

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }
}
