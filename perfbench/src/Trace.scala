package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work seen while tracing, for one job description or in total. */
final class SparkAcc {
  var jobs = 0L
  var jobMs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
}

/** Counts jobs, stages, tasks, shuffle and spill bytes and scheduler delay,
  * keyed by the job description the benchmark sets before each call. Jobs
  * started on threads the benchmark does not own (the HTTP server's) have no
  * description and land under "-"; they still count in the total. */
final class SparkCounters extends SparkListener {
  val total = new SparkAcc
  private val byDesc = mutable.HashMap.empty[String, SparkAcc]
  private val stageDesc = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def accs(desc: String): Seq[SparkAcc] =
    Seq(total, byDesc.getOrElseUpdate(desc, new SparkAcc))

  def of(desc: String): SparkAcc = synchronized(byDesc.getOrElse(desc, new SparkAcc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("-")
    accs(desc).foreach(_.jobs += 1)
    e.stageIds.foreach(stageDesc(_) = desc)
    jobStart(e.jobId) = (desc, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (desc, t0) =>
      accs(desc).foreach(_.jobMs += e.time - t0)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val m = info.taskMetrics
    accs(stageDesc.getOrElse(info.stageId, "-")).foreach { a =>
      a.stages += 1
      a.tasks += info.numTasks
      if (m != null) {
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Scheduler delay as Spark's UI defines it: task wall time not spent
    * deserializing, running, serializing or fetching the result. */
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null && e.taskInfo.finishTime > 0) {
      val busy = m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime
      val gettingResult =
        if (e.taskInfo.gettingResultTime > 0) e.taskInfo.finishTime - e.taskInfo.gettingResultTime
        else 0L
      val delay = math.max(0L, e.taskInfo.duration - busy - gettingResult)
      accs(stageDesc.getOrElse(e.stageId, "-")).foreach(_.schedDelayMs += delay)
    }
  }
}

/** Catalyst analysis + optimization + planning time of every query that ran
  * while tracing. */
final class PlanTimes extends QueryExecutionListener {
  var planMs = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    planMs += Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Spans and Spark counters for the traced run. Spans are recorded from the
  * benchmark around calls into each layer's public functions; each span also
  * names the Spark jobs it starts (job description = span name), so a stage
  * traces back to the call that caused it. Nothing is attached until
  * [[attach]]: the untraced run pays no listener cost. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val counters = new SparkCounters
  val plans = new PlanTimes
  private val spans = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var attached = false
  private var attachedAt = 0L
  private var wallNs = 0L

  def attach(): Unit = if (!attached) {
    PerfbenchBus.drain(sc)
    sc.addSparkListener(counters)
    spark.listenerManager.register(plans)
    attached = true
    attachedAt = System.nanoTime()
  }

  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(counters)
    spark.listenerManager.unregister(plans)
    attached = false
    wallNs += System.nanoTime() - attachedAt
  }

  /** Time `f` under `name` and tag the Spark jobs it starts with `name`. */
  def span[A](name: String)(f: => A): A = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    val t0 = System.nanoTime()
    try f
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      synchronized { spans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms }
      sc.setLocalProperty("spark.job.description", prev)
    }
  }

  def samples(name: String): Seq[Double] = synchronized(spans.get(name).map(_.toSeq).getOrElse(Nil))

  /** Median span time in ms, 0 when the span never ran. */
  def medianMs(name: String): Double = {
    val s = samples(name)
    if (s.isEmpty) 0.0 else Stats.median(s)
  }

  /** Jobs started under `name`, per span execution. */
  def jobsPerCall(name: String): Double = {
    val n = samples(name).size
    if (n == 0) 0.0 else counters.of(name).jobs.toDouble / n
  }

  /** Wall time spent attached, in ms. */
  def wallMs: Double = (wallNs + (if (attached) System.nanoTime() - attachedAt else 0L)) / 1e6
}

/** Per-layer metrics read from the tracer once a traced section ends. */
object Layers {
  def ingest(c: Ctx, tr: Tracer): Unit = {
    c.put(c.layer, "ingest.read_sources_s", tr.medianMs("ingest.read_sources") / 1000, "s")
    c.put(c.layer, "ingest.parse_1t_s", tr.medianMs("ingest.parse_1t") / 1000, "s")
    c.put(c.layer, "ingest.ingest_s", tr.medianMs("ingest.ingest") / 1000, "s")
    val acc = tr.counters.of("ingest.ingest")
    val calls = math.max(1, tr.samples("ingest.ingest").size)
    c.put(c.layer, "ingest.jobs", acc.jobs.toDouble / calls, "count")
    c.put(c.layer, "ingest.tasks", acc.tasks.toDouble / calls, "count")
    c.put(c.layer, "ingest.tasks_per_job", if (acc.jobs == 0) 0.0 else acc.tasks.toDouble / acc.jobs, "ratio")
    c.put(c.layer, "graph.checkpoint_s", tr.medianMs("graph.checkpoint") / 1000, "s")
    c.put(c.layer, "graph.save_s", tr.medianMs("graph.save") / 1000, "s")
  }

  /** Tracing overhead: traced minus untraced median of the same op. */
  def overhead(c: Ctx, untraced: Seq[Double], traced: Seq[Double]): Unit =
    if (untraced.nonEmpty && traced.nonEmpty) {
      val (u, t) = (Stats.median(untraced), Stats.median(traced))
      c.put(c.layer, "trace.overhead_ms", t - u, "ms")
      c.put(c.layer, "trace.overhead_pct", 100 * (t - u) / u, "%")
    }

  /** Spark engine work per traced op, over every traced section. */
  def spark(c: Ctx, tracedOps: Int): Unit = {
    val tr = c.tracer
    val a = tr.counters.total
    val n = math.max(1, tracedOps).toDouble
    c.put(c.layer, "spark.plan_ms", tr.plans.planMs / n, "ms")
    c.put(c.layer, "spark.exec_ms", a.jobMs / n, "ms")
    c.put(c.layer, "spark.stages", a.stages / n, "count")
    c.put(c.layer, "spark.tasks", a.tasks / n, "count")
    c.put(c.layer, "spark.shuffle_bytes", a.shuffleBytes / n, "bytes")
    c.put(c.layer, "spark.spill_bytes", a.spillBytes / n, "bytes")
    c.put(c.layer, "spark.sched_delay_ms", a.schedDelayMs / n, "ms")
    c.put(c.layer, "spark.busy_ratio", if (tr.wallMs > 0) a.jobMs / tr.wallMs else 0.0, "ratio")
  }
}
