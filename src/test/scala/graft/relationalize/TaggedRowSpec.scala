package graft.relationalize

import graft.core._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The pass-1 -> pass-2 codec: [[TaggedRow.Writer]] bytes decoded by
  * [[DecodeTaggedRow]], and the chunks of [[TaggedRow.Chunker]] unpacked by
  * [[TaggedRow.unpack]], evaluated directly (no session).
  */
class TaggedRowSpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    var seed = Seed(20261018L)
    (0 until n).foreach { _ =>
      f(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }

  private def fields(keys: Seq[String]): StructType = TaggedRow.fields(keys.distinct)

  /** Decoded non-null fields; doubles compared by their bits (-0.0 != 0.0). */
  private def decode(payload: Array[Byte], schema: StructType): Map[String, Any] = {
    val r = DecodeTaggedRow(BoundReference(0, BinaryType, nullable = false), schema)
      .eval(InternalRow(payload)).asInstanceOf[InternalRow]
    schema.fields.zipWithIndex.collect { case (f, i) if !r.isNullAt(i) =>
      f.name -> (r.get(i, f.dataType) match {
        case u: UTF8String => u.toString
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case other => other
      })
    }.toMap
  }

  /** What `decode` must return for `row` under the full field list. */
  private def expected(row: Seq[(String, JValue)]): Map[String, Any] = row.collect {
    case (k, JBool(b)) => Json.taggedKey(k, "bool") -> b
    case (k, JLong(l)) => Json.taggedKey(k, "int") -> l
    case (k, JDouble(d)) if !d.isNaN && !d.isInfinite =>
      Json.taggedKey(k, "float") -> java.lang.Double.doubleToRawLongBits(d)
    case (k, JString(s)) => Json.taggedKey(k, "str") -> s
  }.toMap

  private def roundTrip(row: Seq[(String, JValue)]): Unit = {
    val payload = new TaggedRow.Writer().write(row)
    assert(decode(payload, fields(row.map(_._1))) == expected(row), row)
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
    val got = decode(new TaggedRow.Writer().write(row), fields(row.map(_._1)))
    assert(got(Json.taggedKey("negzero", "float")) == java.lang.Double.doubleToRawLongBits(-0.0))
    assert(got(Json.taggedKey("sum", "float")) ==
      java.lang.Double.doubleToRawLongBits(0.30000000000000004))
  }

  test("NaN, Infinity and null write no record and read as null") {
    val row = Seq("nan" -> JDouble(Double.NaN), "pinf" -> JDouble(Double.PositiveInfinity),
      "ninf" -> JDouble(Double.NegativeInfinity), "null" -> JNull, "kept" -> JLong(1))
    val payload = new TaggedRow.Writer().write(row)
    assert(decode(payload, fields(row.map(_._1))) == Map(Json.taggedKey("kept", "int") -> 1L))
    assert(new TaggedRow.Writer().write(row.take(4)).sameElements(Array[Byte](0)))
  }

  test("an integer beyond Long range stays a str value") {
    val row = Json.parseRow("""{"big": 123456789012345678901234567890, "small": 5}""").toSeq
    assert(row.head._2 == JString("123456789012345678901234567890"))
    val got = decode(new TaggedRow.Writer().write(row), fields(row.map(_._1)))
    assert(got == Map(Json.taggedKey("big", "str") -> "123456789012345678901234567890",
      Json.taggedKey("small", "int") -> 5L))
  }

  test("empty, unicode, surrogate-pair and control-character keys and values") {
    roundTrip(Seq("" -> JString(""), "ключ" -> JString("значение"),
      "emoji😀" -> JString("a👍b"), "ctl\u0001\u001f" -> JString("\n\t\u0000\r"),
      "中文" -> JBool(true), "q\"\\" -> JBool(false), "e" -> JString("é" * 300)))
  }

  test("random rows round-trip, and one writer serves many rows") {
    val genKey = Gen.oneOf(Gen.alphaNumStr, Gen.const("unié中"), Gen.const("tab\there"),
      Gen.const("😀"))
    val genVal: Gen[JValue] = Gen.oneOf(
      Gen.const(JNull), Gen.oneOf(true, false).map(JBool.apply),
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(JLong.apply),
      Gen.chooseNum(Double.MinValue, Double.MaxValue).map(JDouble.apply),
      Gen.oneOf(Double.NaN, Double.NegativeInfinity, -0.0).map(JDouble.apply),
      Gen.alphaStr.map(JString.apply), Gen.asciiStr.map(JString.apply))
    val writer = new TaggedRow.Writer
    forAll(Gen.listOf(Gen.zip(genKey, genVal))) { kvs =>
      val row = kvs.toMap.toSeq // flat rows have distinct keys
      assert(decode(writer.write(row), fields(row.map(_._1))) == expected(row), row)
    }
  }

  test("a pruned field list decodes only the fields it names") {
    val row = Seq("a" -> JLong(1), "b" -> JString("x"), "c" -> JDouble(2.5), "d" -> JBool(true))
    val pruned = StructType(Seq(StructField(Json.taggedKey("b", "str"), StringType),
      StructField(Json.taggedKey("c", "int"), LongType),
      StructField(Json.taggedKey("d", "bool"), BooleanType)))
    val got = decode(new TaggedRow.Writer().write(row), pruned)
    assert(got == Map(Json.taggedKey("b", "str") -> "x", Json.taggedKey("d", "bool") -> true))
  }

  test("a truncated or overlong payload and an unknown tag byte raise") {
    val row = Seq("k" -> JString("value"), "n" -> JLong(300), "f" -> JDouble(1.5))
    val payload = new TaggedRow.Writer().write(row)
    val schema = fields(row.map(_._1))
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
    val writer = new TaggedRow.Writer
    val (first, second) = rows.splitAt(3)
    val chunks = Seq(first, second).map { part =>
      val w = new TaggedRow.Writer
      part.foreach(w.append)
      w.chunk()
    }
    val unpacked = chunks.flatMap(TaggedRow.unpack)
    assert(unpacked.map(_.toSeq) == rows.map(r => writer.write(r).toSeq))
    unpacked.zip(rows).foreach { case (bytes, row) =>
      assert(decode(bytes, fields(row.map(_._1))) == expected(row), row)
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
    val writer = new TaggedRow.Writer
    assert(got.keySet == (0 until 1000).map(t => s"t$t").toSet)
    (0 until 1000).foreach { t =>
      assert(got(s"t$t").map(_.toSeq) == (0 until 40).map(i => writer.write(row(t, i)).toSeq))
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
