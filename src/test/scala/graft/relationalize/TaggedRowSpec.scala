package graft.relationalize

import graft.core._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, MillisToTimestamp}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.VectorMap

/** The pass-1 -> pass-2 codec: [[TaggedRow.Writer]] rows decoded by
  * [[DecodeTaggedRow]] into a schema's output columns, and the chunks of
  * [[TaggedRow.Chunker]] unpacked by [[TaggedRow.unpack]], evaluated
  * directly (no session).
  */
class TaggedRowSpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    var seed = Seed(20261018L)
    (0 until n).foreach { _ =>
      f(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }

  /** One row's bytes, through the path pass 1 runs: append, chunk, unpack. */
  private def bytes(row: Seq[(String, JValue)]): Array[Byte] = {
    val w = new TaggedRow.Writer
    w.append(row)
    TaggedRow.unpack(w.chunk()).next()
  }

  /** Decoded non-null output columns; doubles compared by their bits
    * (-0.0 != 0.0).
    */
  private def decode(payload: Array[Byte], schema: ChoiceSchema, kept: Seq[String],
                     tz: String = "UTC"): Map[String, Any] = {
    val d = DecodeTaggedRow(BoundReference(0, BinaryType, nullable = false), schema.serialize,
      kept, Some(tz))
    val r = d.eval(InternalRow(payload)).asInstanceOf[InternalRow]
    d.dataType.fields.zipWithIndex.collect { case (f, i) if !r.isNullAt(i) =>
      f.name -> (r.get(i, f.dataType) match {
        case u: UTF8String => u.toString
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case other => other
      })
    }.toMap
  }

  private def decode(payload: Array[Byte], schema: ChoiceSchema): Map[String, Any] =
    decode(payload, schema, schema.outputColumns)

  /** What `decode` must return for `row`: the reference's convert, minus
    * the values the writer scrubs (null, NaN, ±Infinity).
    */
  private def expected(schema: ChoiceSchema, row: Seq[(String, JValue)]): Map[String, Any] =
    schema.convert(row).toSeq.collect {
      case (k, JBool(b)) => k -> b
      case (k, JLong(l)) => k -> l
      case (k, JDouble(d)) if !d.isNaN && !d.isInfinite => k -> java.lang.Double.doubleToRawLongBits(d)
      case (k, JString(s)) => k -> s
    }.toMap

  private def roundTrip(row: Seq[(String, JValue)]): Unit = {
    val schema = ChoiceSchema.empty.observe(row)
    assert(decode(bytes(row), schema) == expected(schema, row), row)
  }

  test("integer extremes and zigzag boundaries round-trip") {
    roundTrip(Seq("min" -> JLong(Long.MinValue), "max" -> JLong(Long.MaxValue),
      "zero" -> JLong(0), "neg1" -> JLong(-1), "b63" -> JLong(63), "b64" -> JLong(64),
      "nb64" -> JLong(-64), "nb65" -> JLong(-65)))
  }

  test("doubles keep every bit: -0.0, 17-digit values, subnormals") {
    val row = Seq("negzero" -> JDouble(-0.0), "zero" -> JDouble(0.0),
      "sum" -> JDouble(0.1 + 0.2), "long" -> JDouble(1.2345678901234567e-300),
      "sub" -> JDouble(java.lang.Double.MIN_VALUE), "max" -> JDouble(Double.MaxValue),
      "third" -> JDouble(1.0 / 3))
    roundTrip(row)
    val got = decode(bytes(row), ChoiceSchema.empty.observe(row))
    assert(got("negzero") == java.lang.Double.doubleToRawLongBits(-0.0))
    assert(got("sum") == java.lang.Double.doubleToRawLongBits(0.30000000000000004))
  }

  test("NaN, Infinity and null write no record and read as null") {
    val row = Seq("nan" -> JDouble(Double.NaN), "pinf" -> JDouble(Double.PositiveInfinity),
      "ninf" -> JDouble(Double.NegativeInfinity), "null" -> JNull, "kept" -> JLong(1))
    assert(decode(bytes(row), ChoiceSchema.empty.observe(row)) == Map("kept" -> 1L))
    assert(bytes(row.take(4)).sameElements(Array[Byte](0)))
  }

  test("an integer beyond Long range stays a str value") {
    val row = Json.parseRow("""{"big": 123456789012345678901234567890, "small": 5}""").toSeq
    assert(row.head._2 == JString("123456789012345678901234567890"))
    val got = decode(bytes(row), ChoiceSchema.empty.observe(row))
    assert(got == Map("big" -> "123456789012345678901234567890", "small" -> 5L))
  }

  test("empty, unicode, surrogate-pair and control-character keys and values") {
    roundTrip(Seq("" -> JString(""), "ключ" -> JString("значение"),
      "emoji😀" -> JString("a👍b"), "ctl\u0001\u001f" -> JString("\n\t\u0000\r"),
      "中文" -> JBool(true), "q\"\\" -> JBool(false), "e" -> JString("é" * 300)))
  }

  test("random rows round-trip, and one writer serves many rows") {
    // a small key pool makes keys meet several value types: choice columns
    val genKey = Gen.oneOf(Gen.alphaNumStr, Gen.const("a"), Gen.const("b"), Gen.const("unié中"),
      Gen.const("tab\there"), Gen.const("😀"))
    val genVal: Gen[JValue] = Gen.oneOf(
      Gen.const(JNull), Gen.oneOf(true, false).map(JBool.apply),
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(JLong.apply),
      Gen.chooseNum(Double.MinValue, Double.MaxValue).map(JDouble.apply),
      Gen.oneOf(Double.NaN, Double.NegativeInfinity, -0.0).map(JDouble.apply),
      Gen.alphaStr.map(JString.apply), Gen.asciiStr.map(JString.apply))
    val genRow = Gen.listOf(Gen.zip(genKey, genVal)).map(_.toMap.toSeq) // distinct keys
    val writer = new TaggedRow.Writer
    forAll(Gen.zip(genRow, Gen.listOfN(3, genRow))) { case (row, others) =>
      val schema = others.foldLeft(ChoiceSchema.empty.observe(row))(_.observe(_))
      writer.append(row)
      assert(decode(bytes(row), schema) == expected(schema, row), row)
    }
    assert(TaggedRow.unpack(writer.chunk()).length == 300)
  }

  test("a pruned field list decodes only the fields it names") {
    val row = Seq("a" -> JLong(1), "b" -> JString("x"), "c" -> JDouble(2.5), "d" -> JBool(true))
    val got = decode(bytes(row), ChoiceSchema.empty.observe(row), Seq("b", "d"))
    assert(got == Map("b" -> "x", "d" -> true))
  }

  test("a choice column with one member kept: another member reads null, a foreign tag raises") {
    val schema = ChoiceSchema(VectorMap("v" -> ColType.CChoice(Vector("int", "str")),
      "w" -> ColType.CInt))
    val kept = Seq("v_str")
    assert(decode(bytes(Seq("v" -> JString("x"))), schema, kept) == Map("v_str" -> "x"))
    assert(decode(bytes(Seq("v" -> JLong(1))), schema, kept) == Map.empty)
    val e = intercept[IllegalStateException](decode(bytes(Seq("v" -> JBool(true))), schema, kept))
    assert(e.getMessage.contains("value type bool for column v not admitted"), e.getMessage)
    intercept[IllegalStateException](schema.convert(Seq("v" -> JBool(true))))
    // a key without a kept column is skipped, whatever its tag
    assert(decode(bytes(Seq("w" -> JString("s"))), schema, kept) == Map.empty)
  }

  test("a frozen datetime column reads a string as cast does and an int as epoch millis") {
    val schema = ChoiceSchema(VectorMap("ts" -> ColType.CDatetime, "f" -> ColType.CFloat,
      "n" -> ColType.CNone))
    val tz = "America/New_York"
    def read(row: (String, JValue)*): Map[String, Any] = decode(bytes(row), schema, schema.outputColumns, tz)
    val text = "2024-03-10 01:30:00"
    assert(read("ts" -> JString(text)) == Map("ts" ->
      Cast(Literal(text), TimestampType, Some(tz)).eval()))
    assert(read("ts" -> JLong(1700000000123L)) == Map("ts" ->
      MillisToTimestamp(Literal(1700000000123L)).eval()))
    val bad = intercept[IllegalStateException](read("ts" -> JString("not a time")))
    assert(bad.getMessage.contains("unparseable timestamp in column ts"))
    intercept[IllegalStateException](read("ts" -> JBool(true)))
    // an int widens in a float column; a none column reads bool
    assert(read("f" -> JLong(3), "n" -> JBool(true)) ==
      Map("f" -> java.lang.Double.doubleToRawLongBits(3.0), "n" -> true))
  }

  test("a truncated or overlong payload and an unknown tag byte raise") {
    val row = Seq("k" -> JString("value"), "n" -> JLong(300), "f" -> JDouble(1.5))
    val payload = bytes(row)
    val schema = ChoiceSchema.empty.observe(row)
    (0 until payload.length).foreach { cut =>
      val e = intercept[IllegalStateException](decode(payload.take(cut), schema))
      assert(e.getMessage.contains("truncated"), s"cut at $cut: ${e.getMessage}")
    }
    val long = intercept[IllegalStateException](decode(payload :+ 0.toByte, schema))
    assert(long.getMessage.contains("longer than its records"))
    // one record: key "k" (length 1), then tag byte 9
    val e = intercept[IllegalStateException](decode(Array[Byte](1, 1, 'k', 9, 0), schema))
    assert(e.getMessage.contains("unknown tag byte 9"))
  }

  test("chunks round-trip their rows in order across a flush boundary") {
    // rows under 128 bytes and under 16 KiB (a two-byte length prefix), and
    // one over 16 KiB, whose prefix widens in place
    val rows = Seq(Seq("a" -> JLong(1)), Seq.empty[(String, JValue)],
      Seq("s" -> JString("x" * 200), "f" -> JDouble(0.5)), Seq("b" -> JBool(true)),
      Seq("big" -> JString("é" * 9000), "n" -> JNull), Seq("z" -> JLong(-7)))
    val (first, second) = rows.splitAt(3)
    val chunks = Seq(first, second).map { part =>
      val w = new TaggedRow.Writer
      part.foreach(w.append)
      w.chunk()
    }
    val unpacked = chunks.flatMap(TaggedRow.unpack)
    assert(unpacked.map(_.toSeq) == rows.map(r => bytes(r).toSeq))
    unpacked.zip(rows).foreach { case (payload, row) =>
      val schema = ChoiceSchema.empty.observe(row)
      assert(decode(payload, schema) == expected(schema, row), row)
    }
    assert(TaggedRow.unpack(new TaggedRow.Writer().chunk()).isEmpty)
  }

  test("1,000 tables flush within the chunk budget, each table's rows in order") {
    val budget = 1 << 20
    val chunker = new TaggedRow.Chunker(budget)
    def row(t: Int, i: Int) =
      Seq("t" -> JLong(t), "i" -> JLong(i), "pad" -> JString("p" * (100 + (t + i) % 200)))
    val got = scala.collection.mutable.Map.empty[String, Vector[Array[Byte]]]
    def take(chunks: Iterator[(String, Array[Byte])]): Long = chunks.map { case (t, c) =>
      val rows = TaggedRow.unpack(c).toVector
      got(t) = got.getOrElse(t, Vector.empty) ++ rows
      rows.map(_.length + 2L).sum
    }.sum
    var flushes = 0
    for (i <- 0 until 40; t <- 0 until 1000) {
      val flushed = take(chunker.append(s"t$t", row(t, i)))
      // a flush empties every table's buffer at once, having held the budget
      if (flushed > 0) { flushes += 1; assert(flushed >= budget && chunker.size == 0) }
      assert(chunker.size < budget)
    }
    take(chunker.flush())
    assert(flushes >= 5 && chunker.size == 0)
    assert(got.keySet == (0 until 1000).map(t => s"t$t").toSet)
    (0 until 1000).foreach { t =>
      assert(got(s"t$t").map(_.toSeq) == (0 until 40).map(i => bytes(row(t, i)).toSeq))
    }
  }

  test("a truncated chunk or a corrupt LZ4 block raises") {
    val w = new TaggedRow.Writer
    (0 until 50).foreach(i => w.append(Seq("k" -> JString(s"value $i"), "n" -> JLong(i))))
    val chunk = w.chunk()
    def unpacks(c: Array[Byte]): String =
      intercept[IllegalStateException](TaggedRow.unpack(c).foreach(_ => ())).getMessage
    (0 until chunk.length).foreach { cut =>
      assert(unpacks(chunk.take(cut)).contains("tagged chunk"), s"cut at $cut")
    }
    // not an LZ4 block: literal-length runs past the end
    assert(unpacks(Array[Byte](0, 0, 0, 40) ++ Array.fill[Byte](12)(-1)).contains("corrupt"))
    // a length header the block does not fill, and an impossible one
    val header = java.nio.ByteBuffer.wrap(chunk).getInt
    val longer = chunk.clone()
    java.nio.ByteBuffer.wrap(longer).putInt(header + 1)
    assert(unpacks(longer).contains("corrupt"))
    java.nio.ByteBuffer.wrap(longer).putInt(-1)
    assert(unpacks(longer).contains("corrupt"))
    // a valid block whose last record claims more bytes than remain
    val cut = new TaggedRow.Writer
    cut.append(Seq("k" -> JString("abc")))
    val rows = TaggedRow.unpack(cut.chunk()).next()
    val broken = new Array[Byte](4 + 64)
    val block = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val raw = Array[Byte]((rows.length + 5 | 0x80).toByte, 0) ++ rows
    java.nio.ByteBuffer.wrap(broken).putInt(raw.length)
    val n = block.compress(raw, 0, raw.length, broken, 4)
    assert(unpacks(broken.take(4 + n)).contains("truncated tagged chunk"))
  }
}
