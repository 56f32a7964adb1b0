package graft.api

import org.apache.spark.sql.Row
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The reference's API response envelope
  * (reference: src/lib/apiResponseSchema.ts:15-30, enforced src/api.ts:33-47):
  * every payload is `{success:true, data}` ∪ `{success:false, message}`.
  *
  * JSON values follow `JSON.stringify` conventions: object keys in
  * insertion (= schema/select) order, `null` for SQL NULL, non-finite
  * doubles serialized as null (JS has no JSON NaN). Uses json4s (on
  * Spark's classpath) for rendering.
  */
object JsonEnvelope {

  def ok(data: JValue): String =
    JsonMethods.compact(JsonMethods.render(
      JObject("success" -> JBool(true), "data" -> data)))

  def fail(message: String): String =
    JsonMethods.compact(JsonMethods.render(
      JObject("success" -> JBool(false), "message" -> JString(message))))

  /** One row → JObject in schema field order. */
  def rowToJson(row: Row): JObject = {
    val fields = row.schema.fields.toList.zipWithIndex.map { case (f, i) =>
      f.name -> anyToJson(if (row.isNullAt(i)) null else row.get(i))
    }
    JObject(fields)
  }

  def anyToJson(v: Any): JValue = v match {
    case null => JNull
    case d: Double => if (java.lang.Double.isFinite(d)) JDouble(d) else JNull
    case f: Float => if (java.lang.Float.isFinite(f)) JDouble(f.toDouble) else JNull
    case n: Long => JLong(n)
    case n: Int => JLong(n.toLong)
    case n: Short => JLong(n.toLong)
    case n: Byte => JLong(n.toLong)
    case b: Boolean => JBool(b)
    case s: String => JString(s)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case d: BigDecimal => JDecimal(d)
    case t: java.sql.Timestamp => JString(t.toInstant.toString)
    case i: java.time.Instant => JString(i.toString)
    case r: Row => rowToJson(r)
    case m: Map[_, _] =>
      JObject(m.toList.map { case (k, value) => k.toString -> anyToJson(value) })
    case s: Seq[_] => JArray(s.toList.map(anyToJson))
    case a: Array[_] => JArray(a.toList.map(anyToJson))
    case j: JValue => j
    case other => JString(other.toString)
  }
}
