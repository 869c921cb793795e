package graft.relationalize

import com.fasterxml.jackson.databind.JsonNode
import graft.core._

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.immutable.VectorMap

/** The core relationalize transform: depth-first walk of one JSON document,
  * flattening nested structs and splitting arrays into child tables linked by
  * synthetic rids.
  *
  * Semantics ported from `relationalize/relationalize.py:65-130` (fresh
  * implementation, behavior-matched):
  *   - nested struct key `a.b` flattens to `a_b`; on collision last write wins
  *     (Python `dict.update` order);
  *   - an array at path `p` in document named `n` is replaced in the parent by
  *     a rid string; each element becomes a row of child table `n_p` carrying
  *     `p__rid_` (the parent's rid) and `p__index_` (0-based position);
  *   - scalar elements are emitted under `p__val_`; struct elements expand to
  *     `p_<key>`; nested arrays recurse (grand-child table `n_p__val_`);
  *   - an empty array still mints a rid in the parent but emits no child rows
  *     (dangling FK — reference behavior, kept);
  *   - rid format `R_` + 32 lowercase hex chars.
  *
  * Divergence from the reference, by design (SURVEY §1.4): rids are
  * *deterministic* — derived from a caller-supplied stable document key and a
  * per-document ordinal via MD5 — so Spark task retries and golden tests are
  * reproducible. Uniqueness + parent/child agreement (the only semantic
  * requirements) are preserved.
  */
object Relationalizer {
  val Delimiter = "_"
  val IdCol = "_rid_"
  val ValCol = "_val_"
  val IndexCol = "_index_"

  type FlatRow = VectorMap[String, JValue]

  // per-thread digest: getInstance per rid is a provider lookup per array
  private val localMd: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of a digest, through a lookup table: `f"$b%02x"` builds a
    * java.util.Formatter per byte, 16 per rid.
    */
  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexDigits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Relationalize one parsed document.
    *
    * @param doc    the JSON document (normally an object)
    * @param name   root table name; child tables are `name_<path>`
    * @param docKey stable unique key of this document (drives rid determinism)
    * @return (tableName, flatRow) pairs — root row last, children in
    *         depth-first write order
    */
  def relationalize(doc: JsonNode, name: String, docKey: String): Vector[(String, FlatRow)] = {
    val out = Vector.newBuilder[(String, FlatRow)]
    var ridOrdinal = 0
    lazy val docKeyBytes = docKey.getBytes(StandardCharsets.UTF_8)

    def nextRid(): String = {
      val md = Relationalizer.localMd.get()
      md.reset()
      md.update(docKeyBytes)
      md.update(':'.toByte)
      md.update(ridOrdinal.toString.getBytes(StandardCharsets.UTF_8))
      ridOrdinal += 1
      s"R$Delimiter${hex(md.digest())}"
    }

    /** `acc` plus the flat columns of `node` at `path`. Columns go straight
      * into the caller's row (VectorMap.updated: last write wins, a key keeps
      * its first position, like Python `dict.update`), with no map per value.
      */
    def walk(node: JsonNode, path: String, acc: FlatRow): FlatRow =
      if (node.isArray) {
        val rid = nextRid()
        val table = s"$name$Delimiter$path"
        // same empty-path prefix rule as the dict branch: a root-level array
        // (path "") yields bare _val_/_rid_/_index_ keys, per the reference
        val prefix = if (path.isEmpty) "" else s"$path$Delimiter"
        val (idKey, indexKey) = (s"$prefix$IdCol", s"$prefix$IndexCol")
        val elems = node.elements()
        var idx = 0
        while (elems.hasNext) {
          val row = elementRow(elems.next(), prefix)
            .updated(idKey, JString(rid))
            .updated(indexKey, JLong(idx.toLong))
          out += table -> row
          idx += 1
        }
        acc.updated(path, JString(rid))
      } else if (node.isObject) {
        val prefix = if (path.isEmpty) "" else s"$path$Delimiter"
        var row = acc
        val props = node.properties().iterator()
        while (props.hasNext) {
          val e = props.next()
          row = walk(e.getValue, prefix + e.getKey, row)
        }
        row
      } else acc.updated(path, JValue.of(node))

    /** An array element's own columns; the caller appends `_rid_`/`_index_`. */
    def elementRow(elem: JsonNode, prefix: String): FlatRow =
      if (elem.isObject) {
        // struct element: its own keys first. A user key literally named
        // _rid_/_index_ is overwritten by the synthetic columns (reference
        // sets them on the dict before the walk), so skip them here.
        var row: FlatRow = VectorMap.empty
        val props = elem.properties().iterator()
        while (props.hasNext) {
          val e = props.next()
          if (e.getKey != IdCol && e.getKey != IndexCol)
            row = walk(e.getValue, prefix + e.getKey, row)
        }
        row
      } else walk(elem, s"$prefix$ValCol", VectorMap.empty) // scalar or nested array

    val rootRow = walk(doc, "", VectorMap.empty)
    out += name -> rootRow
    out.result()
  }

  /** Convenience: parse + relationalize a raw JSON line. */
  def relationalizeLine(line: String, name: String, docKey: String): Vector[(String, FlatRow)] =
    relationalize(Json.parse(line), name, docKey)

  /** Content-derived document key: md5 hex of the raw line. Stable under any
    * repartition/recompute of the input (the positional `(partitionId,
    * ordinal)` default is not — see [[RelationalizeOptions.contentDocKeys]]).
    * Identical duplicate lines share a key, hence identical rid trees.
    */
  def contentDocKey(line: String): String = {
    val md = localMd.get()
    md.reset()
    hex(md.digest(line.getBytes(StandardCharsets.UTF_8)))
  }
}
