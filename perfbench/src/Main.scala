package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.graph.GraphStore

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, out: Path, detail: Path, benchDir: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("work")), Paths.get(get("out")), Paths.get(get("detail")),
      Paths.get(get("bench-dir")))
  }
}

/** A metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload measured: the latency samples of its primary op (ms),
  * and how many ops completed over how many seconds (browse: the loop's
  * window; a serial workload: the time its timed ops took). */
final case class Outcome(opMs: Seq[Double], completed: Long, seconds: Double)

/** Everything a workload needs: the session, its options, the recorder that
  * counts attempted and failed ops, the tracer (traced run only) and the
  * report that collects every metric. */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  val rec = new Recorder
  val tracer = new Tracer(spark)
  val rng = new scala.util.Random(opts.seed)
  /** Workload-level numbers beyond the bounded end-to-end set. */
  val product = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private var warehouses = 0

  def tracing: Boolean = opts.trace

  /** A fresh, empty warehouse under the run's work directory. */
  def freshStore(): GraphStore = {
    warehouses += 1
    new GraphStore(spark, opts.work.resolve(s"warehouse-$warehouses").toString)
  }

  /** Run set-up `reps` times; setup_s is the median. The first rep is the
    * cold one (JIT, first jobs); later reps repeat the same work warm. */
  def setup[A](reps: Int)(f: Int => A): A = {
    var last: Option[A] = None
    (0 until reps).foreach { i =>
      val t0 = System.nanoTime()
      last = Some(f(i))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    info("setup_reps_s") = setupS.toList
    last.get
  }
  def setupMedianS: Double = Stats.median(setupS.toSeq)

  /** Call `f` until the run's seconds are used, at least `minOps` times. */
  def window(minOps: Int)(f: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < opts.seconds) { f(i); i += 1 }
  }

  def put(m: mutable.LinkedHashMap[String, Metric], name: String, v: Double, unit: String): Unit =
    m(name) = Metric(v, unit)

  /** Median of `xs`; 0 when the op never ran (an idle layer). */
  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}

trait Workload {
  def run(c: Ctx): Outcome
}

object Main {

  val Ops = Seq("graph_entities", "get_neighbors", "auto_complete", "find_paths", "repo_info")
  val Gates = (1 to 14).map(i => f"g$i%02d")

  /** The bounded end-to-end metrics; every workload reports each of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ok_rate" -> "ratio", "heap_live_mb" -> "MB",
    "op_p50_ms" -> "ms", "ops_per_s" -> "1/s")

  /** The per-layer metrics of the traced run; a layer idle on a workload
    * reports 0 there. */
  val PerLayer: Seq[(String, String)] =
    Seq("ingest.read_sources_s" -> "s", "ingest.parse_1t_s" -> "s", "ingest.ingest_s" -> "s",
      "ingest.jobs" -> "count", "ingest.tasks" -> "count", "ingest.tasks_per_job" -> "ratio",
      "graph.checkpoint_s" -> "s", "graph.save_s" -> "s", "graph.stored_bytes" -> "bytes",
      "graph.load_ms" -> "ms") ++
      Ops.map(o => s"graph.query_ms.$o" -> "ms") ++ Ops.map(o => s"graph.jobs.$o" -> "count") ++
      Ops.map(o => s"api.endpoint_ms.$o" -> "ms") ++ Ops.map(o => s"api.http_ms.$o" -> "ms") ++
      Seq("api.queue_wait_ms" -> "ms") ++ Ops.map(o => s"api.response_bytes.$o" -> "bytes") ++
      Seq("git.build_jobs" -> "count", "git.switch_steps" -> "count", "git.switch_jobs" -> "count") ++
      Gates.map(g => s"queries.${g}_s" -> "s") ++ Gates.map(g => s"queries.${g}_jobs" -> "count") ++
      Seq("spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms", "spark.stages" -> "count",
        "spark.tasks" -> "count", "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
        "spark.sched_delay_ms" -> "ms", "spark.busy_ratio" -> "ratio",
        "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%", "host.cal_s" -> "s")

  val Workloads: Map[String, Workload] = Map(
    "browse" -> BrowseWorkload,
    "timetravel" -> TimeTravelWorkload, "gates_graph" -> GatesWorkload)

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("tmp").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Host sentinel: a fixed pure-JVM integer loop (the same probe as the
    * engine's Bench `cal`). A run whose sentinel reads far above its
    * siblings' ran on a noisy host. */
  def hostSentinelS(): Double = {
    var acc = 1469598103934665603L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 200000000) { acc = (acc ^ i) * 1099511628211L; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("sentinel collision")
    dt
  }

  /** Heap still live after two full collections, in MB. */
  def heapLiveMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val wl = Workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    Recorder.selfTest()
    Files.createDirectories(o.work)
    val spark = session(o)
    try {
      val c = new Ctx(spark, o)
      val cal = hostSentinelS()
      val outcome = wl.run(c)
      val rec = c.rec
      val values = Map(
        "setup_s" -> c.setupMedianS,
        "ok_rate" -> (1.0 - rec.failed.toDouble / rec.attempted),
        "heap_live_mb" -> heapLiveMb(),
        "op_p50_ms" -> c.med(outcome.opMs),
        "ops_per_s" -> outcome.completed / outcome.seconds)
      val e2e = mutable.LinkedHashMap.from(EndToEnd.map { case (n, u) => n -> Metric(values(n), u) })
      c.put(c.layer, "host.cal_s", cal, "s")
      c.info("host_cal_s") = cal
      val layer = mutable.LinkedHashMap.from(PerLayer.map { case (n, u) =>
        n -> c.layer.getOrElse(n, Metric(0.0, u)) })
      val printed = if (o.trace) layer else e2e
      writeOut(o, c, e2e, layer, printed, outcome)
    } finally spark.stop()
  }

  private def metricsNode(mapper: ObjectMapper, m: collection.Map[String, Metric]) = {
    val n = mapper.createObjectNode()
    m.foreach { case (k, v) =>
      val x = n.putObject(k)
      x.put("value", v.value)
      x.put("unit", v.unit)
    }
    n
  }

  private def writeOut(o: Opts, c: Ctx, e2e: collection.Map[String, Metric],
      layer: collection.Map[String, Metric], printed: collection.Map[String, Metric],
      outcome: Outcome): Unit = {
    val mapper = new ObjectMapper()
    val rec = c.rec
    val result = mapper.createObjectNode()
    result.put("correct", rec.failed == 0)
    result.put("attempted", rec.attempted)
    result.put("failed", rec.failed)
    result.set("metrics", metricsNode(mapper, printed))

    val detail = mapper.createObjectNode()
    detail.put("workload", o.workload)
    detail.put("seed", o.seed)
    detail.put("seconds", o.seconds)
    detail.put("trace", o.trace)
    detail.put("cores", cores)
    detail.put("attempted", rec.attempted)
    detail.put("failed", rec.failed)
    val fails = detail.putArray("failures")
    rec.failures.foreach { f => val x = fails.addObject(); x.put("op", f.op); x.put("error", f.error) }
    detail.set("end_to_end", metricsNode(mapper, e2e))
    detail.set("workload_metrics", metricsNode(mapper, c.product))
    if (o.trace) detail.set("per_layer", metricsNode(mapper, layer))
    val samples = detail.putObject("sample_counts")
    rec.kinds.foreach(k => samples.put(k, rec.latencies(k).size))
    samples.put("primary_op", outcome.opMs.size)
    detail.set("info", mapper.valueToTree(c.info.map { case (k, v) => k -> toJava(v) }.asJava))
    Files.createDirectories(o.detail.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(o.detail.toFile, detail)

    printTable(o, printed, c.product, rec)
    mapper.writeValue(o.out.toFile, result)
  }

  private def toJava(v: Any): Any = v match {
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case other => other
  }

  private def printTable(o: Opts, printed: collection.Map[String, Metric],
      product: collection.Map[String, Metric], rec: Recorder): Unit = {
    val err = System.err
    err.println(s"[perfbench] ${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"attempted=${rec.attempted} failed=${rec.failed}")
    (printed ++ product).foreach { case (k, m) =>
      err.println(f"[perfbench]   $k%-34s ${m.value}%14.4f ${m.unit}")
    }
    rec.failures.foreach(f => err.println(s"[perfbench]   FAILED ${f.op}: ${f.error}"))
  }
}
