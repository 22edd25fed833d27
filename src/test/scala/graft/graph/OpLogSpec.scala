package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.Row

/** The stored op-log format: one JSON string per logged op kind, as
  * `OpLog.encode` wrote it before the single-row ops were removed. The
  * `{repo}_git` graphs hold these strings on their PARENT/CHILD edges, so
  * each must still decode, re-encode byte-identically, and replay exactly
  * like the op applied directly. Every op targets the
  * [[GraphEngineSpec.buildFixture]] graph (src.py 1, Task 2, __init__ 3,
  * abort 4, log 5, print 6). */
class OpLogSpec extends SparkSpec {
  import spark.implicits._

  private val golden: Seq[(String, CodeGraph => MutationResult)] = Seq(
    """{"op":"AddEntitiesBatch","data":{"rows":[{"label":"Function","name":"extra","path":"src.py","srcStart":20,"srcEnd":22,"doc":"an extra","props":{"k":"v"}},{"label":"Function","name":"log","path":"src.py","srcStart":2,"srcEnd":3,"doc":"updated","props":{}}]}}""" ->
      (_.addEntities(Seq(
        ("Function", "extra", "src.py", 20L, 22L, "an extra", Map("k" -> "v")),
        ("Function", "log", "src.py", 2L, 3L, "updated", Map.empty[String, String])
      ).toDF("label", "name", "path", "src_start", "src_end", "doc", "props"))),
    """{"op":"AddFilesBatch","data":{"rows":[{"path":"pkg","name":"mod.py","ext":".py"},{"path":"","name":"src.py","ext":".py"}]}}""" ->
      (_.addFiles(Seq(("pkg", "mod.py", ".py"), ("", "src.py", ".py"))
        .toDF("path", "name", "ext"))),
    """{"op":"ConnectEntitiesBatch","data":{"rows":[{"src":1,"dst":6,"relType":"DEFINES","props":{"w":"1"}},{"src":1,"dst":2,"relType":"DEFINES","props":{"x":"y"}}]}}""" ->
      (_.connectEntities(Seq((1L, 6L, "DEFINES", Map("w" -> "1")),
        (1L, 2L, "DEFINES", Map("x" -> "y"))).toDF("src", "dst", "type", "props"))),
    """{"op":"AddCallsBatch","data":{"rows":[{"src":4,"dst":6,"pos":11,"text":"print()"},{"src":3,"dst":5,"pos":7,"text":null}]}}""" ->
      (_.addCalls(Seq((4L, 6L, 11L, "print()"), (3L, 5L, 7L, null: String))
        .toDF("src", "dst", "pos", "text"))),
    """{"op":"DeleteFiles","data":{"files":[{"path":"","name":"src.py","ext":".py"}]}}""" ->
      (g => Mutations.deleteFiles(g.graph,
        Seq(("", "src.py", ".py")).toDF("path", "name", "ext"))),
    """{"op":"SetFilesCoverage","data":{"rows":[{"path":"","name":"src.py","ext":".py","coverage":1.0},{"path":"","name":"missing.py","ext":".py","coverage":0.5}]}}""" ->
      (g => Mutations.setFilesCoverage(g.graph, Seq(
        GraphOp.FileCoverageRow("", "src.py", ".py", 1.0),
        GraphOp.FileCoverageRow("", "missing.py", ".py", 0.5)))),
    """{"op":"SetNodesMetadata","data":{"ids":[5],"values":[{"doc":"d","custom":"x"}]}}""" ->
      (g => Mutations.setNodesMetadata(g.graph, Seq(5L),
        Seq(Map("doc" -> "d", "custom" -> "x"))))
  )

  private def snapshot(g: PropertyGraph): (Seq[Row], Seq[Row]) =
    (g.nodes.orderBy("id").collect().toSeq,
      g.edges.orderBy("src", "dst", "type", "line").collect().toSeq)

  test("golden op-log JSON covers every logged kind and re-encodes byte-identically") {
    assert(golden.map(g => OpLog.decode(g._1).getClass.getSimpleName).toSet ===
      Set("AddEntitiesBatch", "AddFilesBatch", "ConnectEntitiesBatch",
        "AddCallsBatch", "DeleteFiles", "SetFilesCoverage", "SetNodesMetadata"))
    golden.foreach { case (json, _) => assert(OpLog.encode(OpLog.decode(json)) === json) }
  }

  test("golden op-log JSON replays like the op applied directly, with identical ids") {
    val before = snapshot(GraphEngineSpec.buildFixture(spark).graph)
    golden.foreach { case (json, direct) =>
      val applied = snapshot(direct(GraphEngineSpec.buildFixture(spark)).graph)
      val replayed = snapshot(GraphEngineSpec.buildFixture(spark).rerun(json).graph)
      assert(replayed === applied, json)
      assert(replayed !== before, s"golden op changes nothing: $json")
    }
  }

  test("decode rejects the removed single-row op names") {
    val e = intercept[IllegalArgumentException](OpLog.decode(
      """{"op":"AddEntity","data":{"label":"Function","name":"extra","path":"src.py","srcStart":20,"srcEnd":22,"doc":"","props":{}}}"""))
    assert(e.getMessage === "unknown op: AddEntity")
  }
}
