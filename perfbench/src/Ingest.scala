package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.git.GitHistory
import graft.graph.{CodeGraph, GraphStore}
import graft.ingest.{DependencyExpansion, Ingestor}

/** The bulk write path, run by browse's set-up: `analyze_folder` over the
  * pinned stdlib corpus, its traced twin, and the output checks on the graph
  * it stores. */
object Ingest {

  val Project = "stdlib"

  def bytesUnder(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** `analyze_folder`'s steps, each in its own span (the traced twin of the
    * endpoint: same public calls, same order). */
  def traced(tr: Tracer, spark: SparkSession, store: GraphStore, dir: Path): Unit = {
    val g = new CodeGraph(spark, dir.getFileName.toString, Some(store))
    val sources = tr.span("ingest.read_sources")(GitHistory.readSources(dir.toString))
    tr.span("ingest.ingest")(Ingestor.ingest(g, sources ++
      DependencyExpansion.expandAll(dir, sources)))
    tr.span("graph.checkpoint")(g.checkpointNow())
    tr.span("graph.save")(g.save())
  }

  /** The single-thread parse floor: every frontend `extract` over the
    * corpus on the calling thread. */
  def parseOneThread(tr: Tracer, dir: Path): Unit = {
    val sources = GitHistory.readSources(dir.toString)
    tr.span("ingest.parse_1t")(sources.foreach { s =>
      val ext = Ingestor.splitPath(s.path)._3
      Ingestor.frontends.find(_.extensions.contains(ext)).foreach(_.extract(s.path, s.source))
    })
  }

  /** Pinned counts, the save/load round trip with ids stable, every edge
    * endpoint present and DEFINES a forest. */
  def checkGraph(c: Ctx, store: GraphStore): Unit = {
    val g = store.load(Project)
    c.rec.check("ingest.counts") {
      val (n, e) = (g.nodes.count(), g.edges.count())
      require(n == Inputs.CorpusNodes && e == Inputs.CorpusEdges,
        s"graph has $n nodes / $e edges, recorded ${Inputs.CorpusNodes} / ${Inputs.CorpusEdges}")
    }
    c.rec.check("ingest.save_load_round_trip") {
      val before = GraphChecks.digests(g)
      store.save(Project + "_roundtrip", g)
      val after = GraphChecks.digests(store.load(Project + "_roundtrip"))
      store.delete(Project + "_roundtrip")
      require(before == after, "node/edge multiset changed across save/load")
    }
    c.rec.check("ingest.graph_invariants")(GraphChecks.invariants(g))
  }
}
