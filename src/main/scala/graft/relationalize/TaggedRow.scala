package graft.relationalize

import graft.core._
import net.jpountz.lz4.{LZ4Exception, LZ4Factory}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.{BufferUnderflowException, ByteBuffer}
import java.nio.charset.StandardCharsets.UTF_8

/** The binary tagged row: `varint(record count)`, then one record per
  * non-null value in row order — `varint(key length)`, the key's UTF-8
  * bytes, a tag byte (its index in [[Tags]]) and the value (bool: one byte;
  * int: zigzag varint; float: the 8 IEEE bytes; str: `varint(length)` and
  * UTF-8 bytes). Null, NaN and ±Infinity write no record, so they read as
  * null (the NaN scrub, K8).
  *
  * An [[Emitted]] data row carries one table's rows as a chunk: a 4-byte
  * (big-endian) uncompressed length, then an LZ4 block of the rows, each as
  * `varint(length) ++ row` ([[Writer.append]], [[unpack]]).
  */
object TaggedRow {
  val Tags: Vector[String] = Vector("bool", "int", "float", "str")

  private val compressor = LZ4Factory.fastestInstance().fastCompressor()
  private val decompressor = LZ4Factory.fastestInstance().safeDecompressor()

  /** One `k<TagSep>tag` field per (key, tag): pass 2's full field list. */
  def fields(keys: Iterable[String]): StructType = StructType(keys.toSeq.flatMap(k => Tags
    .zip(Seq(BooleanType, LongType, DoubleType, StringType))
    .map { case (t, dt) => StructField(Json.taggedKey(k, t), dt) }))

  private def kept(v: JValue): Boolean =
    v match { case JNull => false; case JDouble(d) => !d.isNaN && !d.isInfinite; case _ => true }

  /** Encodes rows into one reused, growing buffer. */
  final class Writer {
    private var buf = ByteBuffer.allocate(256)

    /** One row's bytes, in a fresh array. */
    def write(row: Iterable[(String, JValue)]): Array[Byte] = {
      buf.clear()
      encode(row)
      java.util.Arrays.copyOf(buf.array, buf.position)
    }

    /** Appends `row` as `varint(length) ++ row`, encoded in place, and
      * returns its size: the length fills two reserved bytes (a padded varint
      * below 128), and only a row of 16 KiB or more moves right to widen them.
      */
    def append(row: Iterable[(String, JValue)]): Int = {
      val start = room(2).position + 2
      buf.position(start)
      encode(row)
      val len = buf.position - start
      var width = 2
      while (len.toLong >>> (7 * width) != 0) width += 1
      if (width > 2) {
        room(width - 2)
        System.arraycopy(buf.array, start, buf.array, start + width - 2, len)
        buf.position(start + width - 2 + len)
      }
      for (i <- 0 until width)
        buf.put(start - 2 + i, ((len >>> (7 * i)) & 0x7f | (if (i < width - 1) 0x80 else 0)).toByte)
      width + len
    }

    /** The appended rows as one chunk. */
    def chunk(): Array[Byte] = {
      val n = buf.position
      val out = new Array[Byte](4 + compressor.maxCompressedLength(n))
      ByteBuffer.wrap(out).putInt(n)
      java.util.Arrays.copyOf(out, 4 + compressor.compress(buf.array, 0, n, out, 4))
    }

    private def encode(row: Iterable[(String, JValue)]): Unit = {
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

  /** One task's per-table [[Writer]]s. Once they hold `budget` bytes, every
    * table's rows flush as one chunk each, so a task holds at most the
    * budget plus one row, whatever the table fan-out.
    */
  final class Chunker(budget: Int) {
    private val writers = scala.collection.mutable.LinkedHashMap.empty[String, Writer]
    private var held = 0L

    /** Row bytes appended since the last flush. */
    def size: Long = held

    /** Appends `row` to `table`'s buffer; the chunks of a flush it triggers. */
    def append(table: String, row: Iterable[(String, JValue)]): Iterator[(String, Array[Byte])] = {
      held += writers.getOrElseUpdate(table, new Writer).append(row)
      if (held >= budget) flush() else Iterator.empty
    }

    /** Every table's rows as one (table, chunk) each; the buffers start over. */
    def flush(): Iterator[(String, Array[Byte])] = {
      val chunks = writers.map { case (t, w) => t -> w.chunk() }.toVector
      writers.clear()
      held = 0L
      chunks.iterator
    }
  }

  /** The rows of a [[Writer.chunk]], in append order. A truncated or corrupt
    * chunk raises.
    */
  def unpack(chunk: Array[Byte]): Iterator[Array[Byte]] = {
    val b = try {
      val n = ByteBuffer.wrap(chunk).getInt
      // an LZ4 block expands at most 255x: a larger length is corrupt
      require(n >= 0 && n <= 255L * chunk.length, s"uncompressed length $n")
      val rows = new Array[Byte](n)
      require(decompressor.decompress(chunk, 4, chunk.length - 4, rows, 0) == n, "short block")
      ByteBuffer.wrap(rows)
    } catch { case e @ (_: BufferUnderflowException | _: IllegalArgumentException | _: LZ4Exception) =>
      throw new IllegalStateException("corrupt tagged chunk", e)
    }
    Iterator.continually(b).takeWhile(_.hasRemaining).map { _ =>
      val len = try readVarint(b) catch { case _: BufferUnderflowException => -1L }
      if (len < 0 || len > b.remaining) throw new IllegalStateException("truncated tagged chunk")
      val row = new Array[Byte](len.toInt)
      b.get(row)
      row
    }
  }

  /** The varint at `b`'s position; underflows on a truncated one. */
  private[relationalize] def readVarint(b: ByteBuffer): Long = {
    var v = 0L; var s = 0; var c = 0x80
    while ((c & 0x80) != 0) { c = b.get(); v |= (c & 0x7fL) << s; s += 7 }
    v
  }
}

/** Pass-2 unpack: a [[TaggedRow]] chunk to one `row BINARY` per row, in
  * append order (`graft_unpack_tagged`).
  */
case class UnpackTaggedChunk(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_unpack_tagged expects a BINARY chunk, got ${child.dataType.catalogString}")
  override def elementSchema: StructType =
    StructType(Seq(StructField("row", BinaryType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = child.eval(input) match {
    case null => Nil
    case chunk: Array[Byte] => TaggedRow.unpack(chunk).map(r => InternalRow(r))
  }
  override def prettyName: String = "graft_unpack_tagged"
  override protected def withNewChildInternal(newChild: Expression): UnpackTaggedChunk =
    copy(child = newChild)
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
    def varint(): Long = TaggedRow.readVarint(b)
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
