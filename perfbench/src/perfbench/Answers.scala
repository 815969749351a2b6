package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._

/** Normalised answers and their comparison within a tolerance.
  *
  * A small result is kept row by row. A result of more than
  * [[MaxRows]] rows, and an array of more than [[MaxItems]] JSON objects,
  * is kept as a summary: its size and, per field, the sum (numbers) or an
  * order-independent hash (everything else). */
object Answers {
  val MaxRows = 64
  val MaxItems = 8
  val RelTol = 1e-6
  val AbsTol = 2e-6

  private def hash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getInt.toLong
  }

  private def cell(v: Any): JValue = v match {
    case null => JNull
    case n: java.lang.Number =>
      val d = n.doubleValue
      // JSON has no NaN or infinity: keep them as their names
      if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
    case b: Boolean => JBool(b)
    case x => JString(x.toString)
  }

  /** Collected rows of `df`, normalised. */
  def ofRows(df: DataFrame): JValue = {
    val cols = df.columns.toList
    val rows = df.collect()
    if (rows.length <= MaxRows)
      JObject("columns" -> JArray(cols.map(JString(_))),
        "rows" -> JArray(rows.toList.map(r =>
          JArray(cols.indices.toList.map(i => cell(r.get(i)))))))
    else summary(cols, rows.toIndexedSeq.map(r =>
      cols.indices.map(i => cell(r.get(i)))))
  }

  private def summary(fields: Seq[String], items: Seq[Seq[JValue]]): JValue =
    JObject("n" -> JLong(items.size), "fields" -> JObject(fields.indices.toList.map { i =>
      val vs = items.map(_(i))
      val nums = vs.collect { case JDouble(d) => d; case JLong(l) => l.toDouble
        case JInt(b) => b.toDouble }
      fields(i) -> (if (nums.size == vs.size && nums.forall(d => !d.isNaN && !d.isInfinite))
        JObject("sum" -> JDouble(nums.sum))
      else JObject("hash" -> JLong(vs.map(v => hash(v.toString)).sum)))
    }))

  /** JSON response with long arrays of objects replaced by summaries. */
  def ofJson(v: JValue): JValue = v match {
    case JArray(items) if items.size > MaxItems && items.forall(_.isInstanceOf[JObject]) =>
      val keys = items.head.asInstanceOf[JObject].obj.map(_._1)
      summary(keys, items.map(o => keys.map(k => o \ k match {
        case JInt(b) => JDouble(b.toDouble)
        case x => x
      })))
    case JArray(items) => JArray(items.map(ofJson))
    case JObject(fs) => JObject(fs.map { case (k, x) => k -> ofJson(x) })
    case x => x
  }

  def num(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JLong(l) => Some(l.toDouble)
    case JInt(b) => Some(b.toDouble)
    case JDecimal(b) => Some(b.toDouble)
    case _ => None
  }

  def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= AbsTol + RelTol * math.max(math.abs(a), math.abs(b))

  /** Differences between `expected` and `actual`, one line each; empty
    * when they agree within the tolerance. */
  def diff(expected: JValue, actual: JValue, path: String = "$"): Seq[String] =
    (expected, actual) match {
      case (e, a) if num(e).isDefined && num(a).isDefined =>
        if (close(num(e).get, num(a).get)) Nil
        else Seq(s"$path: expected ${num(e).get}, got ${num(a).get}")
      case (JObject(ef), JObject(af)) =>
        val am = af.toMap
        val missing = ef.map(_._1).filterNot(am.contains).map(k => s"$path.$k: missing")
        val extra = af.map(_._1).filterNot(ef.map(_._1).toSet).map(k => s"$path.$k: unexpected")
        missing ++ extra ++ ef.filter(f => am.contains(f._1))
          .flatMap { case (k, e) => diff(e, am(k), s"$path.$k") }
      case (JArray(es), JArray(as)) =>
        if (es.size != as.size) Seq(s"$path: expected ${es.size} items, got ${as.size}")
        else es.zip(as).zipWithIndex.flatMap { case ((e, a), i) => diff(e, a, s"$path[$i]") }
      case (e, a) => if (e == a) Nil else Seq(s"$path: expected $e, got $a")
    }
}
