package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the span
  * that caused this one (0 for a root). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty)

/** In-memory tracer for the traced run: spans op → construct / execute →
  * job → stage, planning-phase spans, and per-pass counters, fed by
  * Spark's public listener hooks. The op id reaches jobs through the
  * job-local property [[Tracer.OpProp]].
  *
  * Every callback runs on the listener bus; the bench drains the bus
  * after each op, so `pass` and `op` still name the op whose events are
  * being delivered.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val skews = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Long, String)]
  private var nextId = 1L

  @volatile var pass = 0
  @volatile var op = 0L

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def add(name: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(pass, mutable.Map.empty)
    m(name) = m.getOrElse(name, 0.0) + v
  }

  def span(s: Span): Unit = synchronized { spans += s }

  /** Counters of one pass (missing names read as 0). */
  def passCounters(p: Int): Map[String, Double] = synchronized {
    counters.get(p).map(_.toMap).getOrElse(Map.empty)
  }

  /** Median over the pass's stages of max / median task run time. */
  def passSkew(p: Int): Double = synchronized {
    skews.get(p).map(s => median(s.toSeq)).getOrElse(0.0)
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val opId = props.flatMap(p => Option(p.getProperty(OpProp))).map(_.toLong).getOrElse(op)
      val phase = props.flatMap(p => Option(p.getProperty(PhaseProp))).getOrElse("")
      Tracer.this.synchronized {
        jobStart(e.jobId) = (e.time, opId, phase)
        e.stageIds.foreach(s => stageJob(s) = e.jobId.toLong)
      }
      add("exec.jobs", 1)
      if (phase == "construct") add("queries.eager_jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, opId, phase) = Tracer.this.synchronized(jobStart.remove(e.jobId))
        .getOrElse((e.time, op, ""))
      span(Span(JobIdBase + e.jobId, opId, s"job ${e.jobId}", "operators",
        t0.toDouble, e.time.toDouble, Map("phase" -> phase)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      if (m != null) {
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill.mb", m.diskBytesSpilled / MB)
        add("sources.scan_mb", m.inputMetrics.bytesRead / MB)
        add("sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
        Tracer.this.synchronized {
          stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
            mutable.ArrayBuffer.empty) += m.executorRunTime
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      add("exec.stages", 1)
      val (parent, times) = Tracer.this.synchronized {
        (stageJob.get(si.stageId).map(JobIdBase + _).getOrElse(op),
          stageTaskMs.remove((si.stageId, si.attemptNumber())).map(_.toSeq).getOrElse(Nil))
      }
      if (times.size >= 2) {
        val med = median(times.map(_.toDouble))
        if (med > 0) Tracer.this.synchronized {
          skews.getOrElseUpdate(pass, mutable.ArrayBuffer.empty) += times.max / med
        }
      }
      val t0 = si.submissionTime.getOrElse(0L).toDouble
      val t1 = si.completionTime.map(_.toDouble).getOrElse(t0)
      span(Span(StageIdBase + si.stageId * 100L + si.attemptNumber(), parent,
        s"stage ${si.stageId}", "operators", t0, t1, Map("tasks" -> si.numTasks)))
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)

    private def phases(qe: QueryExecution): Unit =
      for ((name, key) <- Seq("analysis" -> "plans.analysis_ms",
          "optimization" -> "plans.optimization_ms", "planning" -> "plans.planning_ms");
          p <- qe.tracker.phases.get(name)) {
        add(key, p.durationMs.toDouble)
        span(Span(newId(), op, name, "plans", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  def drain(): Unit = org.apache.spark.graftbench.BusDrain(spark.sparkContext)
}

object Tracer {
  val OpProp = "graft.bench.op"
  val PhaseProp = "graft.bench.phase"
  val MB = 1024.0 * 1024.0
  // id ranges keep Spark's job and stage ids apart from the bench's own
  val JobIdBase = 1L << 40
  val StageIdBase = 1L << 50

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
