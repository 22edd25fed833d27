package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object GraphEngineSpec {
  /** Build the FIXTURES.md §1.1 graph via the batch mutation API. IDs:
    * src.py 1, Task 2, __init__ 3, abort 4, log 5, print 6. */
  def buildFixture(spark: SparkSession): CodeGraph = {
    import spark.implicits._
    val g = new CodeGraph(spark, "pyfixture")
    g.addFiles(Seq(("", "src.py", ".py")).toDF("path", "name", "ext"))
    g.addEntities(Seq(
      ("Function", "log", "src.py", 2L, 3L, "", Map.empty[String, String]),
      ("Class", "Task", "src.py", 5L, 12L, "a task", Map.empty[String, String]),
      ("Function", "__init__", "src.py", 6L, 8L, "", Map.empty[String, String]),
      ("Function", "abort", "src.py", 10L, 12L, "", Map.empty[String, String]),
      ("Function", "print", "", 0L, 0L, "", Map.empty[String, String])
    ).toDF("label", "name", "path", "src_start", "src_end", "doc", "props"))

    def id(label: String, name: String): Long =
      GraphQueries.getByName(g.graph, label, name).head().getAs[Long]("id")

    val file = g.graph.nodes
      .filter(array_contains(col("labels"), "File") && col("name") === "src.py")
      .head().getAs[Long]("id")
    val (logF, task, init, abort, printF) =
      (id("Function", "log"), id("Class", "Task"), id("Function", "__init__"),
        id("Function", "abort"), id("Function", "print"))
    g.connectEntities(Seq(
      (file, logF, "DEFINES", Map.empty[String, String]),
      (file, task, "DEFINES", Map.empty[String, String]),
      (task, init, "DEFINES", Map.empty[String, String]),
      (task, abort, "DEFINES", Map.empty[String, String])
    ).toDF("src", "dst", "type", "props"))
    g.addCalls(Seq((abort, logF, 11L), (init, printF, 7L), (logF, printF, 3L))
      .toDF("src", "dst", "pos"))
    g
  }
}

/** Exercises SURVEY.md §7.2's minimum end-to-end slice: the Python fixture
  * graph from the reference (`/root/reference/tests/source_files/py/src.py`,
  * golden assertions `tests/test_py_analyzer.py:28-59` / FIXTURES.md §1.1)
  * built through the mutation API, then queried. */
class GraphEngineSpec extends SparkSpec {
  def buildFixture(): CodeGraph = GraphEngineSpec.buildFixture(spark)

  test("golden: function_called_by(print) == {__init__, log} and function_calls(abort) == {log}") {
    val g = buildFixture()
    val callers = GraphQueries.functionCalledBy(g.graph, "print")
      .head().getAs[scala.collection.Seq[String]]("callers")
    assert(callers.toSet === Set("__init__", "log"))
    val callees = GraphQueries.functionCalls(g.graph, "abort")
      .head().getAs[scala.collection.Seq[String]]("callees")
    assert(callees.toSet === Set("log"))
  }

  test("upsert is idempotent: MERGE twice == once, with stable IDs") {
    import spark.implicits._
    val g = buildFixture()
    val before = g.graph.nodes.select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val res = g.addEntities(Seq(
      ("Function", "log", "src.py", 2L, 3L, "updated doc", Map("k" -> "v"))
    ).toDF("label", "name", "path", "src_start", "src_end", "doc", "props"))
    assert(res.summary.nodesCreated === 0)
    assert(res.summary.propertiesSet > 0)
    val after = g.graph.nodes.select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(before === after, "IDs must not change on upsert")
    val doc = GraphQueries.getByName(g.graph, "Function", "log")
      .head().getAs[String]("doc")
    assert(doc === "updated doc")
  }

  test("nodes carry Searchable label; autocomplete prefix works") {
    val g = buildFixture()
    val hits = GraphQueries.autoComplete(g.graph, "ab").collect()
    assert(hits.map(_.getAs[String]("name")).contains("abort"))
  }

  test("scored autocomplete matches by token, case-folded, idf-ranked") {
    val g = buildFixture()
    val hits = GraphQueries.autoCompleteScored(g.graph, "ab").collect()
    assert(hits.map(_.getAs[String]("name")).contains("abort"))
    // uppercase query folds to the same result set (tokens are lowercase)
    val upper = GraphQueries.autoCompleteScored(g.graph, "AB").collect()
    assert(upper.map(_.toSeq).toSeq === hits.map(_.toSeq).toSeq)
    // scores are positive and ranks are dense from 1
    assert(hits.map(_.getAs[Double]("score")).forall(_ > 0))
    assert(hits.map(_.getAs[Long]("rnk")).toSeq === (1L to hits.length))
  }

  test("unreachable entities: print has no DEFINES parent") {
    val g = buildFixture()
    val un = GraphQueries.unreachableEntities(g.graph, Some("Function"),
      Some("DEFINES")).collect().map(_.getAs[String]("name")).toSet
    assert(un === Set("print"))
  }

  test("delete_files cascades through DEFINES closure and drops dangling edges") {
    val g = buildFixture()
    val res = g.mutate(GraphOp.DeleteFiles(Seq(GraphOp.FileKey("", "src.py", ".py"))))
    // file + log + Task + __init__ + abort deleted; print survives (not DEFINES-reachable)
    assert(res.summary.nodesDeleted === 5)
    val remaining = res.graph.nodes.select("name").collect().map(_.getString(0)).toSet
    assert(remaining === Set("print"))
    assert(res.graph.edges.count() === 0, "all edges touched deleted nodes")
  }

  test("find_paths returns simple paths with correct endpoints") {
    val g = buildFixture()
    def id(n: String): Long =
      GraphQueries.getByName(g.graph, "Function", n).head().getAs[Long]("id")
    val pathDf = Paths.findPaths(g.graph, id("abort"), id("print"), "CALLS")
    val paths = pathDf.collect().map(_.getAs[scala.collection.Seq[Long]]("path"))
    assert(paths.length === 1)
    assert(paths.head === Seq(id("abort"), id("log"), id("print")))

    // T4 relationships(path): edge structs in hop order with their props
    val rels = Paths.pathRelationships(g.graph, pathDf, "CALLS")
      .head().getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("rels")
    assert(rels.map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))) ===
      Seq((id("abort"), id("log")), (id("log"), id("print"))))
    assert(rels.map(_.getAs[String]("type")).distinct === Seq("CALLS"))
    assert(rels.map(_.getAs[Long]("line")) === Seq(11L, 3L))
  }

  test("set_file_coverage == 1.0 cascades to defined functions") {
    val g = buildFixture()
    val res = g.mutate(GraphOp.SetFilesCoverage(
      Seq(GraphOp.FileCoverageRow("", "src.py", ".py", 1.0))))
    val covered = res.graph.nodes
      .filter(col("coverage_precentage") === 1.0)
      .select("name").collect().map(_.getString(0)).toSet
    // file + directly-DEFINED functions (log; Task is a Class so untouched;
    // __init__/abort are nested under Task, not the file — 1-hop only)
    assert(covered === Set("src.py", "log"))
  }

  test("set_nodes_metadata promotes coverage and merges open props") {
    val g = buildFixture()
    val logId = GraphQueries.getByName(g.graph, "Function", "log")
      .head().getAs[Long]("id")
    val res = g.mutate(GraphOp.SetNodesMetadata(Seq(logId),
      Seq(Map("coverage_precentage" -> "0.5", "custom" -> "x"))))
    val row = GraphQueries.getById(res.graph, logId).head()
    assert(row.getAs[Double]("coverage_precentage") === 0.5)
    assert(row.getAs[Map[String, String]]("props")("custom") === "x")
  }

  test("op-log capture + replay reproduces the same graph with identical IDs") {
    import spark.implicits._
    val g = buildFixture()
    g.enableBacklog()
    // captured through the batch API, the path history walks log through
    g.addEntities(Seq(
      ("Function", "extra", "src.py", 20L, 22L, "", Map.empty[String, String])
    ).toDF("label", "name", "path", "src_start", "src_end", "doc", "props"))
    g.mutate(GraphOp.SetFilesCoverage(
      Seq(GraphOp.FileCoverageRow("", "src.py", ".py", 0.7))))
    val ops = g.getBacklog
    assert(ops.length === 2, "both changing ops logged")

    // replay on a fresh copy of the fixture
    val g2 = buildFixture()
    ops.foreach(g2.rerun)
    val a = g.graph.nodes.orderBy("id")
      .select("id", "name", "coverage_precentage").collect().toSeq
    val b = g2.graph.nodes.orderBy("id")
      .select("id", "name", "coverage_precentage").collect().toSeq
    assert(a === b)
  }

  test("no-op mutations are not logged (change detection)") {
    import spark.implicits._
    val g = buildFixture()
    g.enableBacklog()
    // connecting an already-existing edge with no props → no change
    val file = g.graph.nodes
      .filter(array_contains(col("labels"), "File")).head().getAs[Long]("id")
    val task = GraphQueries.getByName(g.graph, "Class", "Task").head().getAs[Long]("id")
    val res = g.connectEntities(Seq((file, task, "DEFINES", Map.empty[String, String]))
      .toDF("src", "dst", "type", "props"))
    assert(!res.summary.changed)
    assert(g.getBacklog.isEmpty)
  }

  test("stats and sub_graph shapes") {
    val g = buildFixture()
    val s = GraphQueries.stats(g.graph).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s("nodes") === 6 && s("edges") === 7)
    assert(GraphQueries.getSubGraph(g.graph, 3).count() === 3)
  }

  test("commit graph: add/connect/list/transitions") {
    import spark.implicits._
    val g = new CodeGraph(spark, "repo_git")
    g.addCommits(Seq(("c1", "alice", "first", 100L), ("c2", "bob", "second", 200L),
      ("c3", "carol", "third", 300L)).toDF("hash", "author", "message", "date"))
    // c2's parent is c1, c3's is c2
    g.connectCommitsBatch(Seq(("c2", "c1"), ("c3", "c2"))
      .toDF("child_hash", "parent_hash"))
    g.setTransitions(Seq(
      ("c3", "c2", "PARENT", Seq("""{"op":"x"}"""), Seq("{}")),
      ("c2", "c1", "PARENT", Seq("""{"op":"y"}"""), Seq("{}"))
    ).toDF("from_hash", "to_hash", "rel_type", "queries", "params"))

    val commits = GraphQueries.listCommits(g.graph).collect()
    assert(commits.map(_.getAs[String]("hash")).toSeq === Seq("c1", "c2", "c3"))
    assert(commits.map(_.getAs[String]("author")).toSeq === Seq("alice", "bob", "carol"))

    val child = GraphQueries.getChildCommit(g.graph, "c1").collect()
    assert(child.length === 1 && child(0).getAs[String]("hash") === "c2")

    // S8 get_commits: IN-filter by hash list (git_graph.py:69-85)
    val got = GraphQueries.getCommits(g.graph, Seq("c1", "c3", "zz")).collect()
    assert(got.map(_.getAs[String]("hash")).sorted.toSeq === Seq("c1", "c3"))
    assert(got.find(_.getAs[String]("hash") == "c3").get
      .getAs[String]("author") === "carol")

    def cid(h: String): Long =
      GraphQueries.getByName(g.graph, "Commit", h).head().getAs[Long]("id")
    val trans = Paths.chainTransitions(g.graph, cid("c3"), cid("c1"), "PARENT")
      .orderBy("step").collect()
    assert(trans.map(_.getAs[scala.collection.Seq[String]]("queries").head).toSeq
      === Seq("""{"op":"x"}""", """{"op":"y"}"""))
  }

  test("graph store: save/load/clone/delete/list round-trip") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val store = new GraphStore(spark, tmp)
    val g = buildFixture()
    store.save("repoA", g.graph)
    assert(store.exists("repoA"))
    store.cloneGraph("repoA", "repoA_tmp")
    store.setInfo("repoA", Map("commit" -> "abc123", "repo_url" -> "http://x"))
    assert(store.listRepos() === Seq("repoA")) // _tmp filtered like _git/_schema
    val loaded = store.load("repoA")
    assert(loaded.nodes.count() === g.graph.nodes.count())
    assert(loaded.edges.count() === g.graph.edges.count())
    assert(store.getInfo("repoA")("commit") === "abc123")
    store.delete("repoA_tmp")
    assert(!store.exists("repoA_tmp"))
    // edge rows must round-trip by value too, not just count (the edge
    // table is hive-partitioned by type on disk: the partition column has
    // to come back in schema position with its values intact)
    import org.apache.spark.sql.functions.col
    val before = g.graph.edges.select("src", "dst", "type")
      .orderBy("src", "dst", "type").collect().toSeq
    val after = loaded.edges.select("src", "dst", "type")
      .orderBy("src", "dst", "type").collect().toSeq
    assert(after === before)
    // SURVEY §4 layout: a type-filtered traversal scan prunes partitions
    val scan = loaded.edges.filter(col("type") === "CALLS")
      .queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("CALLS"),
      s"type filter did not reach partition pruning:\n$scan")
  }

  test("save reclaims a crashed save's leaked stage dir — but only " +
    "AFTER the new snapshot is promoted") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh-stage")
      .toString
    val store = new GraphStore(spark, tmp)
    val g = buildFixture()
    store.save("repoS", g.graph)
    // simulate an EARLIER save that crashed inside its swap: a leaked
    // .stage-* dir whose aside holds table data (possibly the only copy)
    val leaked = new java.io.File(tmp, "repoS/.stage-crashed-fake")
    val aside = new java.io.File(leaked, "old-nodes")
    aside.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(aside, "recovery.parquet").toPath,
      "fake".getBytes("UTF-8"))
    // a successful save must sweep the leaked dir (the unbounded-copy
    // accumulation advice)…
    store.save("repoS", store.load("repoS"))
    assert(!leaked.exists(),
      "crashed save's stage dir not reclaimed by the next save")
    // …and the graph it promoted is intact
    assert(store.load("repoS").nodes.count() === g.graph.nodes.count())
  }

  test("empty graph round-trips through the partitioned store") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh-empty").toString
    val store = new GraphStore(spark, tmp)
    store.save("empty", GraphSchema.empty(spark))
    assert(store.exists("empty"))
    val loaded = store.load("empty")
    assert(loaded.nodes.count() === 0)
    assert(loaded.edges.count() === 0)
  }

  test("ID assignment stays monotone across delete + save/load (no reuse)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh-ids").toString
    val store = new GraphStore(spark, tmp)
    val g = new CodeGraph(spark, "ids", Some(store))
    g.addFiles(Seq(("", "a", ".py"), ("", "b", ".py")).toDF("path", "name", "ext"))
    val maxBefore = g.graph.nodes.agg(org.apache.spark.sql.functions.max($"id"))
      .head().getLong(0)
    // delete the file holding the top ID, then persist
    g.mutate(GraphOp.DeleteFiles(Seq(GraphOp.FileKey("", "b", ".py"))))
    g.save()
    // a fresh load must NOT fall back to max(id) (which would re-issue the
    // deleted top IDs and mis-wire any op-log captured against them)
    val g2 = new CodeGraph(spark, "ids", Some(store))
    val res = g2.addFiles(Seq(("", "c", ".py")).toDF("path", "name", "ext"))
    val newId = res.result.head().getAs[Long]("id")
    assert(newId > maxBefore,
      s"new id $newId must be above the pre-delete high-water mark $maxBefore")
  }

  test("bounded var-length paths (3..5 hops probe shape)") {
    import spark.implicits._
    // chain a->b->c->d->e->f via CALLS
    val g = new CodeGraph(spark, "chain")
    g.addEntities(Seq("a", "b", "c", "d", "e", "f").zipWithIndex.map {
      case (n, i) => ("Function", n, "f.py", i.toLong, i.toLong, "", Map.empty[String, String])
    }.toDF("label", "name", "path", "src_start", "src_end", "doc", "props"))
    def id(n: String): Long =
      GraphQueries.getByName(g.graph, "Function", n).head().getAs[Long]("id")
    val pairs = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e", "e" -> "f")
    g.addCalls(pairs.map { case (x, y) => (id(x), id(y), 1L) }.toDF("src", "dst", "pos"))
    val paths = Paths.boundedPaths(g.graph, id("a"), "CALLS", 3, 5).collect()
    assert(paths.map(_.getAs[Int]("hops")).sorted.toSeq === Seq(3, 4, 5))
  }
}
