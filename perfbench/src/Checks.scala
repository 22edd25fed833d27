package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.graph.PropertyGraph

/** Order-free digests of query results. The rendering is mirrored by
  * `perfbench/pin_gates.py`, which confirms each gate's digest against its
  * DuckDB oracle: columns in name order, doubles at six decimals rounded
  * half-even from their exact binary value, rows sorted. */
object Canon {
  def value(v: Any): String = v match {
    case null => "NULL"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => double(b.doubleValue)
    case b: BigDecimal => double(b.toDouble)
    case b: Boolean => if (b) "true" else "false"
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else new JBigDecimal(if (d == 0.0) 0.0 else d).setScale(6, RoundingMode.HALF_EVEN).toPlainString

  def digest(columns: Seq[String], rows: Iterable[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).toArray.sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def digest(df: DataFrame): String = digest(df.columns.toSeq, df.collect())
}

/** Output checks on a code graph. Each throws with a reason on failure. */
object GraphChecks {

  /** Node and edge multisets (ids included) of a stored graph. */
  def digests(g: PropertyGraph): (String, String) = (Canon.digest(g.nodes), Canon.digest(g.edges))

  /** Every edge endpoint is a node, and DEFINES forms a forest: no node has
    * two DEFINES parents and no DEFINES chain returns to where it started. */
  def invariants(g: PropertyGraph): Unit = {
    val ids = g.nodes.select("id").collect().map(_.getLong(0))
    val idSet = ids.toSet
    require(idSet.size == ids.length, s"duplicate node ids: ${ids.length - idSet.size}")
    val edges = g.edges.select("src", "dst", "type").collect()
    val dangling = edges.count(r => !idSet(r.getLong(0)) || !idSet(r.getLong(1)))
    require(dangling == 0, s"$dangling edges have an endpoint that is not a node")
    val parent = mutable.HashMap.empty[Long, Long]
    edges.iterator.filter(_.getString(2) == "DEFINES").foreach { r =>
      val (p, c) = (r.getLong(0), r.getLong(1))
      require(!parent.contains(c), s"node $c has two DEFINES parents")
      parent(c) = p
    }
    val settled = mutable.HashSet.empty[Long]
    parent.keys.foreach { start =>
      val path = mutable.HashSet.empty[Long]
      var cur = start
      while (parent.contains(cur) && !settled(cur)) {
        require(path.add(cur), s"DEFINES cycle through node $cur")
        cur = parent(cur)
      }
      settled ++= path
    }
  }

  /** Repo-relative paths of the graph's File nodes. */
  def filePaths(g: PropertyGraph): Set[String] = {
    import org.apache.spark.sql.functions.{array_contains, col}
    g.nodes.filter(array_contains(col("labels"), "File")).select("path", "name").collect()
      .map { r =>
        val dir = Option(r.getString(0)).getOrElse("")
        if (dir.isEmpty) r.getString(1) else dir + "/" + r.getString(1)
      }.toSet
  }
}
