package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.queries.TpchGraph

/** The graph gate family g01–g14 of `SparkEntry.queries` — the layer no
  * endpoint reaches (graph algorithms, the delete cascade, path expansion at
  * scale) — after the smaller-SF JIT warm-up the engine's Bench uses. */
object GatesWorkload extends Workload {

  val TargetSf: String = Inputs.TestData.resolve("sf0.01").toString
  val WarmSf: String = Inputs.TestData.resolve("sf0.001").toString

  def gates: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val gs = SparkEntry.queries.toSeq.filter(_._1.matches("g(0[1-9]|1[0-4])_.*")).sortBy(_._1)
    require(gs.map(_._1.take(3)) == Main.Gates, s"graph gates changed: ${gs.map(_._1)}")
    gs
  }

  /** Digest of each gate's result at the target SF, confirmed against its
    * DuckDB oracle by pin_gates.py. */
  def pinned(benchDir: Path): Map[String, String] = {
    val node = new ObjectMapper().readTree(benchDir.resolve("gate_digests.json").toFile)
    node.fields().asScala.map(e => e.getKey -> e.getValue.path("digest").asText()).toMap
  }

  def requireData(): Unit = Seq(TargetSf, WarmSf).foreach { d =>
    require(Files.isRegularFile(Paths.get(d, "lineitem.parquet")), s"test data missing: $d")
  }

  /** Drop the previous gate's dead state before timing the next (as Bench). */
  private def settle(): Unit = { System.gc(); Thread.sleep(150) }

  def collect(spark: SparkSession, fn: (SparkSession, String) => DataFrame): (Seq[String], Array[Row]) = {
    val df = fn(spark, TargetSf)
    (df.columns.toSeq, df.collect())
  }

  def run(c: Ctx): Outcome = {
    requireData()
    val digests = pinned(c.opts.benchDir)
    val gs = gates
    val spark = c.spark
    // JIT warm-up at the next-smaller SF, gates in flight concurrently as
    // in Bench (one per core here)
    val w0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.cores)
    try {
      gs.map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = c.rec.check("warmup." + name) { fn(spark, WarmSf).collect(); () }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    // let the warm-up's dead state drain before anything is timed (as Bench)
    (1 to 2).foreach { _ => settle(); Thread.sleep(300) }
    c.info("warmup_s") = (System.nanoTime() - w0) / 1e9
    // set-up: the resident TPC-H graph at the target SF, rebuilt from scratch
    c.setup(3) { _ =>
      spark.catalog.clearCache()
      TpchGraph.reset()
      val g = TpchGraph.build(spark, TargetSf)
      g.nodes.count() + g.edges.count()
    }
    val sweeps = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    def timeGate(name: String, fn: (SparkSession, String) => DataFrame, kind: String): Option[Double] = {
      settle()
      c.rec.op(kind)(collect(spark, fn)) { case (cols, rows) =>
        val d = Canon.digest(cols, rows)
        require(d == digests(name), s"$name result digest $d differs from the oracle-confirmed ${digests(name)}")
      }.map(_ => c.rec.latencies(kind).last)
    }
    c.window(minOps = 1) { _ =>
      var total = 0.0
      gs.zipWithIndex.foreach { case ((name, fn), i) =>
        val id = name.take(3)
        val plain =
          if (!c.tracing) timeGate(name, fn, id)
          else {
            def withTrace(): Unit = {
              c.tracer.attach()
              c.tracer.span("queries." + id)(timeGate(name, fn, id + ".traced")).foreach(traced += _)
              c.tracer.detach()
            }
            // alternate which run goes first, so warmth favours neither
            val p = if (i % 2 == 0) { val p = timeGate(name, fn, id); withTrace(); p }
              else { withTrace(); timeGate(name, fn, id) }
            p.foreach(untraced += _)
            p
          }
        plain.foreach(total += _)
      }
      sweeps += total
    }
    c.put(c.product, "gates_total_s", c.med(sweeps.toSeq) / 1000, "s")
    if (c.tracing) {
      val tr = c.tracer
      Main.Gates.foreach { g =>
        c.put(c.layer, s"queries.${g}_s", c.med(c.rec.latencies(g + ".traced")) / 1000, "s")
        c.put(c.layer, s"queries.${g}_jobs", tr.jobsPerCall("queries." + g), "count")
      }
      Layers.overhead(c, Seq(untraced.sum), Seq(traced.sum))
      Layers.spark(c, traced.size)
    }
    Outcome(sweeps.toSeq, sweeps.size.toLong, sweeps.sum / 1000)
  }
}

/** Writes each graph gate's result digest and DuckDB oracle SQL at the
  * target SF, for pin_gates.py to confirm and pin:
  * `perfbench.PinGates <out.json>` (classpath and JVM options as run.py). */
object PinGates {
  def main(args: Array[String]): Unit = {
    GatesWorkload.requireData()
    val work = Files.createTempDirectory("perfbench-pin")
    val o = Opts("gates_graph", 0, 0, trace = false, work, work, work, work)
    val spark = Main.session(o)
    try {
      val mapper = new ObjectMapper()
      val out = mapper.createObjectNode()
      GatesWorkload.gates.foreach { case (name, fn) =>
        val (cols, rows) = GatesWorkload.collect(spark, fn)
        val n = out.putObject(name)
        n.put("digest", Canon.digest(cols, rows))
        n.put("rows", rows.length)
        n.put("sql", SparkEntry.oracleSql(name))
      }
      mapper.writerWithDefaultPrettyPrinter().writeValue(Paths.get(args(0)).toFile, out)
    } finally spark.stop()
  }
}
