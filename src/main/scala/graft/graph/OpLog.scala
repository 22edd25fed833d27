package graft.graph

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Mutation op-log: the time-travel backbone (SURVEY.md §2.1 C8, §2.4 M11).
  *
  * The reference records every *mutating* Cypher query + params in a backlog
  * (`/root/reference/api/graph.py:92-171`) and replays them verbatim to move
  * a graph between commits (`api/graph.py:540-545`,
  * `api/git_utils/git_utils.py:260-333`). We have no Cypher, so backlog
  * entries are a serializable ADT of *our* mutation ops — semantically
  * identical, since the reference only ever logs its own fixed query set
  * (MERGE-by-key upserts and delete-by-key cascades).
  *
  * Batch ops are the only logged form: the four ingest batches
  * (`AddEntitiesBatch`, `AddFilesBatch`, `ConnectEntitiesBatch`,
  * `AddCallsBatch`) plus the three keyed rewrites `DeleteFiles`,
  * `SetFilesCoverage` and `SetNodesMetadata`. Each ingest batch owns both
  * directions of its row format — the companion's `fromRows` (capture,
  * from the collected batch) and `toDF` (replay, back to the DataFrame the
  * batch mutation takes) — so capture and replay run the same typed batch
  * mutation.
  *
  * Replay fidelity (SURVEY §7.4): ops that reference node IDs (edge
  * connects, metadata updates) replay correctly because ID assignment is
  * deterministic (sorted-batch sequential assignment in [[Mutations]]) —
  * replaying the same ops from the same start state reproduces identical
  * IDs.
  */
sealed trait GraphOp
object GraphOp {
  final case class FileKey(path: String, name: String, ext: String)

  /** `contentAs`: erasure hides the element type, and Jackson would
    * otherwise decode small ids as Integers. */
  final case class SetNodesMetadata(
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) ids: Seq[Long],
      values: Seq[Map[String, String]]) extends GraphOp
  final case class DeleteFiles(files: Seq[FileKey]) extends GraphOp

  // ---- batch rows (history re-analysis capture; SURVEY §2.6 F5) --------
  // The reference backlogs one Cypher query per entity during the history
  // walk (`api/graph.py:141-150`); we backlog one op per ingest BATCH —
  // replay fidelity is identical (deterministic ID assignment) at a
  // fraction of the op count. Row payloads are small by construction: a
  // transition covers one commit's diff.
  final case class EntityRow(label: String, name: String, path: String,
      srcStart: Long, srcEnd: Long, doc: String, props: Map[String, String])
  final case class EdgeRow(src: Long, dst: Long, relType: String,
      props: Map[String, String])
  final case class CallRow(src: Long, dst: Long, pos: Long, text: String)

  private def propsOf(r: Row): Map[String, String] =
    Option(r.getAs[scala.collection.Map[String, String]]("props"))
      .map(_.toMap).getOrElse(Map.empty)

  final case class AddEntitiesBatch(rows: Seq[EntityRow]) extends GraphOp {
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      rows.map(r => (r.label, r.name, r.path, r.srcStart, r.srcEnd, r.doc, r.props))
        .toDF("label", "name", "path", "src_start", "src_end", "doc", "props")
    }
  }
  object AddEntitiesBatch {
    def fromRows(rows: Seq[Row]): AddEntitiesBatch =
      AddEntitiesBatch(rows.map(r => EntityRow(
        r.getAs[String]("label"), r.getAs[String]("name"),
        r.getAs[String]("path"), r.getAs[Long]("src_start"),
        r.getAs[Long]("src_end"), r.getAs[String]("doc"), propsOf(r))))
  }

  final case class AddFilesBatch(rows: Seq[FileKey]) extends GraphOp {
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      rows.map(r => (r.path, r.name, r.ext)).toDF("path", "name", "ext")
    }
  }
  object AddFilesBatch {
    def fromRows(rows: Seq[Row]): AddFilesBatch =
      AddFilesBatch(rows.map(r => FileKey(r.getAs[String]("path"),
        r.getAs[String]("name"), r.getAs[String]("ext"))))
  }

  final case class ConnectEntitiesBatch(rows: Seq[EdgeRow]) extends GraphOp {
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      rows.map(r => (r.src, r.dst, r.relType, r.props))
        .toDF("src", "dst", "type", "props")
    }
  }
  object ConnectEntitiesBatch {
    def fromRows(rows: Seq[Row]): ConnectEntitiesBatch =
      ConnectEntitiesBatch(rows.map(r => EdgeRow(r.getAs[Long]("src"),
        r.getAs[Long]("dst"), r.getAs[String]("type"), propsOf(r))))
  }

  final case class AddCallsBatch(rows: Seq[CallRow]) extends GraphOp {
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      rows.map(r => (r.src, r.dst, r.pos, r.text))
        .toDF("src", "dst", "pos", "text")
    }
  }
  object AddCallsBatch {
    def fromRows(rows: Seq[Row]): AddCallsBatch =
      AddCallsBatch(rows.map(r => CallRow(r.getAs[Long]("src"),
        r.getAs[Long]("dst"), r.getAs[Long]("pos"),
        if (r.schema.fieldNames.contains("text")) r.getAs[String]("text")
        else null)))
  }

  /** M6 batch row: one tracefile record's file percentage. */
  final case class FileCoverageRow(path: String, name: String, ext: String,
      coverage: Double)
  /** M6 batch (lcov writeback, F1–F3): every file percentage of one
    * tracefile in a single nodes rewrite — `process_lcov` issues one
    * `set_file_coverage` per SF record (`lcov.py:127-213`); at batch
    * granularity a thousand-record CI drop is one Spark job, not a
    * thousand sequential ones. */
  final case class SetFilesCoverage(rows: Seq[FileCoverageRow]) extends GraphOp
}

object OpLog {
  import GraphOp._

  val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def readStringMap(json: String): Map[String, String] = {
    val t = mapper.readTree(json)
    val it = t.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asText()) }
    b.result()
  }

  /** Encode with an explicit discriminator — mirrors the reference logging
    * (query, params) pairs (`api/graph.py:141-150`). */
  def encode(op: GraphOp): String = {
    val node = mapper.createObjectNode()
    node.put("op", op.getClass.getSimpleName)
    node.set[com.fasterxml.jackson.databind.JsonNode]("data", mapper.valueToTree(op))
    mapper.writeValueAsString(node)
  }

  /** Every loggable op class, by the discriminator [[encode]] writes. */
  private val kinds: Map[String, Class[_ <: GraphOp]] = Seq(
    classOf[AddEntitiesBatch], classOf[AddFilesBatch],
    classOf[ConnectEntitiesBatch], classOf[AddCallsBatch],
    classOf[DeleteFiles], classOf[SetFilesCoverage], classOf[SetNodesMetadata]
  ).map(c => c.getSimpleName -> c).toMap

  def decode(json: String): GraphOp = {
    val tree = mapper.readTree(json)
    val name = tree.get("op").asText()
    val cls = kinds.getOrElse(name,
      throw new IllegalArgumentException(s"unknown op: $name"))
    mapper.treeToValue(tree.get("data"), cls)
  }
}
