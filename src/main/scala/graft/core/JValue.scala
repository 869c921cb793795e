package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeType

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

/** Scalar value model for flattened rows.
  *
  * The reference engine (tulip/relationalize) represents flat rows as Python
  * dicts of JSON scalars (`relationalize/relationalize.py:95-119`). JSON's
  * scalar lattice — bool / integer / floating / string / null — is preserved
  * here exactly, because the choice-type system (`relationalize/schema.py:304-319`)
  * depends on distinguishing `1` from `1.0` from `"1"` from `true`; Spark's own
  * JSON inference would unify them to StringType and lose the semantics.
  */
sealed trait JValue extends Serializable { def isNull: Boolean = this eq JNull }
case object JNull extends JValue
final case class JBool(value: Boolean) extends JValue
final case class JLong(value: Long) extends JValue
final case class JDouble(value: Double) extends JValue
final case class JString(value: String) extends JValue

/** A flat row: column -> scalar. Insertion-ordered, last-write-wins on
  * duplicate keys (matching Python `dict.update`,
  * `relationalize/relationalize.py:113-117`).
  */
object JValue {

  /** bool-before-int ordering is irrelevant for JSON (booleans are distinct
    * tokens), but kept in mind: Jackson never confuses them.
    */
  def of(node: JsonNode): JValue = node.getNodeType match {
    case JsonNodeType.NULL | JsonNodeType.MISSING => JNull
    case JsonNodeType.BOOLEAN => JBool(node.booleanValue())
    case JsonNodeType.NUMBER =>
      // Python's json module parses integer literals to int and anything with
      // a '.'/'e' to float; mirror that (Jackson: Int/Long/BigInteger nodes
      // are integral literals). Integral literals beyond Long range cannot be
      // an i64 column value (the reference's arbitrary-precision int would
      // also fail a BIGINT warehouse load, examples/full_pokemon_psql_pipeline.py):
      // preserve the digits as a string instead of truncating silently —
      // documented divergence, the choice lattice then tags the column str/choice.
      if (node.isIntegralNumber) {
        if (node.canConvertToLong) JLong(node.longValue())
        else JString(node.bigIntegerValue().toString)
      } else JDouble(node.doubleValue())
    case JsonNodeType.STRING => JString(node.textValue())
    case other => throw new IllegalArgumentException(s"not a scalar node: $other")
  }
}

/** Minimal JSON helpers over Jackson (bundled with Spark). */
object Json {
  // ObjectMapper is thread-safe after configuration.
  val mapper = new ObjectMapper()

  def parse(s: String): JsonNode = mapper.readTree(s)

  /** Serialize a flat row to a compact JSON object, preserving key order. */
  def writeRow(row: Iterable[(String, JValue)]): String = write(row, tagged = false)

  private def write(row: Iterable[(String, JValue)], tagged: Boolean): String = {
    val sb = new StringBuilder(64)
    sb.append('{')
    var first = true
    row.foreach { case (k, v) =>
      if (!first) sb.append(',')
      first = false
      writeString(sb, if (tagged) taggedKey(k, ColType.of(v).repr) else k)
      sb.append(':')
      v match {
        case JNull => sb.append("null")
        case JBool(b) => sb.append(b)
        case JLong(l) => sb.append(l)
        case JDouble(d) =>
          if (d.isNaN || d.isInfinite) sb.append("null") // NaN scrub (K8)
          else sb.append(d)
        case JString(s) => writeString(sb, s)
      }
    }
    sb.append('}')
    sb.toString()
  }

  private def writeString(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' =>
          // manual hex escape: the f"%04x" interpolator builds a
          // java.util.Formatter (regex parse + allocations) PER CALL, and
          // every tagged key (it embeds TagSep) hits this arm
          sb.append("\\u00")
          sb.append(Character.forDigit((c >> 4) & 0xf, 16))
          sb.append(Character.forDigit(c & 0xf, 16))
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Separator in the field names `k<TagSep>tag` of pass 2's decoded struct
    * ([[graft.relationalize.DecodeTaggedRow]]): one field per (column, tag),
    * so pass 2 reads types structurally. Keys containing it are unsupported
    * (compare the reference's `_` choice-suffix caveat, `schema.py:49-52`).
    */
  val TagSep = '\u0000'

  def taggedKey(k: String, tag: String): String = s"$k$TagSep$tag"

  /** Serialize a flat row as JSON with tag-carrying keys (`k<TagSep>tag`):
    * a readable twin of [[graft.relationalize.TaggedRow]], which pass 1 writes.
    */
  def writeTaggedRow(row: Iterable[(String, JValue)]): String = write(row, tagged = true)

  /** Parse a flat-row JSON object back to an ordered column->scalar map. */
  def parseRow(s: String): VectorMap[String, JValue] = {
    val node = parse(s)
    require(node.isObject, s"flat row must be a JSON object: $s")
    var m = VectorMap.empty[String, JValue]
    node.properties().asScala.foreach { e => m = m.updated(e.getKey, JValue.of(e.getValue)) }
    m
  }
}
