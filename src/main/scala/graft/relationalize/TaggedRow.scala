package graft.relationalize

import graft.core._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.{BufferUnderflowException, ByteBuffer}
import java.nio.charset.StandardCharsets.UTF_8

/** The binary tagged row, the payload of an [[Emitted]] data row:
  * `varint(record count)`, then one record per non-null value in row order —
  * `varint(key length)`, the key's UTF-8 bytes, a tag byte (its index in
  * [[Tags]]) and the value (bool: one byte; int: zigzag varint; float: the 8
  * IEEE bytes; str: `varint(length)` and UTF-8 bytes). Null, NaN and
  * ±Infinity write no record, so they read as null (the NaN scrub, K8).
  */
object TaggedRow {
  val Tags: Vector[String] = Vector("bool", "int", "float", "str")

  /** One `k<TagSep>tag` field per (key, tag): pass 2's full field list. */
  def fields(keys: Iterable[String]): StructType = StructType(keys.toSeq.flatMap(k => Tags
    .zip(Seq(BooleanType, LongType, DoubleType, StringType))
    .map { case (t, dt) => StructField(Json.taggedKey(k, t), dt) }))

  private def kept(v: JValue): Boolean =
    v match { case JNull => false; case JDouble(d) => !d.isNaN && !d.isInfinite; case _ => true }

  /** Writes rows from one reused, growing buffer: one writer per task. */
  final class Writer {
    private var buf = ByteBuffer.allocate(256)
    def write(row: Iterable[(String, JValue)]): Array[Byte] = {
      buf.clear()
      varint(row.count(kv => kept(kv._2)))
      row.foreach { case (k, v) =>
        if (kept(v)) bytes(k.getBytes(UTF_8))
        v match {
          case JBool(b) => room(2).put(0: Byte).put((if (b) 1 else 0).toByte)
          case JLong(l) => room(1).put(1: Byte); varint((l << 1) ^ (l >> 63))
          case JDouble(d) if kept(v) => room(9).put(2: Byte).putDouble(d)
          case JString(s) => room(1).put(3: Byte); bytes(s.getBytes(UTF_8))
          case _ =>
        }
      }
      java.util.Arrays.copyOf(buf.array, buf.position)
    }

    private def room(k: Int): ByteBuffer = {
      if (buf.remaining < k) buf = ByteBuffer.allocate(2 * buf.capacity + k).put(buf.flip())
      buf
    }
    private def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { room(1).put(((x & 0x7f) | 0x80).toByte); x >>>= 7 }
      room(1).put(x.toByte)
    }
    private def bytes(b: Array[Byte]): Unit = { varint(b.length); room(b.length).put(b) }
  }
}

/** Pass-2 decoder: a [[TaggedRow]] to a struct of the `k<TagSep>tag` fields
  * in `schema`; records without a field are skipped (so a pruned field list
  * decodes only what it names). Malformed payloads and unknown tags raise.
  */
case class DecodeTaggedRow(child: Expression, schema: StructType) extends UnaryExpression {
  override def dataType: DataType = schema

  /** (key bytes ++ tag byte) -> ordinal; a record's key and tag are adjacent */
  @transient private lazy val slots: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
      val sep = f.lastIndexOf(Json.TagSep)
      val tag = TaggedRow.Tags.indexOf(f.substring(sep + 1)).toByte
      m.put(UTF8String.fromBytes(f.substring(0, sep).getBytes(UTF_8) :+ tag), i)
    }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val b = ByteBuffer.wrap(input.asInstanceOf[Array[Byte]])
    def varint(): Long = {
      var v = 0L; var s = 0; var c = 0x80
      while ((c & 0x80) != 0) { c = b.get(); v |= (c & 0x7fL) << s; s += 7 }
      v
    }
    def skip(len: Int): Int = { b.position(b.position + len); b.position - len }
    val out = new Array[Any](schema.length)
    try {
      var records = varint()
      while (records > 0) {
        val len = varint().toInt
        val slot = slots.get(UTF8String.fromBytes(b.array, skip(len + 1), len + 1))
        val v = b.get(b.position - 1) match {
          case 0 => b.get() != 0
          case 1 => val z = varint(); (z >>> 1) ^ -(z & 1)
          case 2 => b.getDouble
          case 3 => val n = varint().toInt; UTF8String.fromBytes(b.array, skip(n), n) // a view, no copy
          case t => throw new IllegalStateException(s"unknown tag byte $t in tagged payload")
        }
        if (slot != null) out(slot) = v
        records -= 1
      }
    } catch { case e @ (_: BufferUnderflowException | _: IllegalArgumentException) =>
      throw new IllegalStateException(s"truncated tagged payload at byte ${b.position}", e)
    }
    if (b.hasRemaining) throw new IllegalStateException("tagged payload longer than its records")
    new GenericInternalRow(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("decoder", this)
    defineCodeGen(ctx, ev, c => s"(InternalRow) $self.nullSafeEval($c)")
  }

  override def prettyName: String = "graft_decode_tagged"
  override protected def withNewChildInternal(newChild: Expression): DecodeTaggedRow =
    copy(child = newChild)
}
