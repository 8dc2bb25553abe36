package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result: columns sorted by name,
  * rows rendered exactly and sorted, SHA-256 of the whole. Two results
  * with the same digest hold the same values, whatever their row order,
  * column order or partitioning. */
object Digest {
  def of(df: DataFrame): String = {
    val names = df.columns
    val order = names.indices.sortBy(i => names(i))
    val lines = df.collect()
      .map(r => order.map(i => render(r.get(i))).mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(i => names(i)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }

  def render(v: Any): String = v match {
    case null => "\u0000"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }
}
