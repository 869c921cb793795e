package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.collection.immutable.VectorMap

/** Port of the reference schema suite (`test/schema.test.py`) plus
  * property-based laws for the distributed merge.
  */
class ChoiceSchemaSpec extends AnyFunSuite {

  /** Minimal deterministic property driver (no scalatestplus bridge in the
    * offline cache).
    */
  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(987654321L)
    (0 until n).foreach { _ =>
      f(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }
  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(t => f(t._1, t._2, t._3))
  import ColType._

  private def row(kv: (String, JValue)*): VectorMap[String, JValue] = VectorMap(kv: _*)

  val case1 = row("1" -> JLong(1), "2" -> JString("foobar"), "3" -> JBool(false), "4" -> JDouble(1.2))
  val case2 = row("1" -> JString("foobar"), "2" -> JDouble(9.9), "3" -> JBool(true), "4" -> JDouble(9.5))

  test("single object inference (schema.test.py:40-46)") {
    val s = ChoiceSchema.empty.observe(case1)
    assert(s.columns("1") == CInt)
    assert(s.columns("2") == CStr)
    assert(s.columns("3") == CBool)
    assert(s.columns("4") == CFloat)
  }

  test("choice creation on conflicting objects (schema.test.py:47-54)") {
    val s = ChoiceSchema.empty.observe(case1).observe(case2)
    assert(s.columns("1").repr == "c-int-str")
    assert(s.columns("2").repr == "c-float-str")
    assert(s.columns("3") == CBool)
    assert(s.columns("4") == CFloat)
  }

  test("none lattice: none -> int -> str") {
    val s = ChoiceSchema.empty
      .observe(row("1" -> JNull))
      .observe(row("1" -> JLong(1)))
    assert(s.columns("1") == CInt)
    val s2 = s.observe(row("1" -> JString("foobar")))
    assert(s2.columns("1").repr == "c-int-str")
    // none never joins an existing choice/scalar
    assert(s2.observe(row("1" -> JNull)).columns("1").repr == "c-int-str")
  }

  test("choice members stay sorted and deterministic") {
    val a = ChoiceSchema.empty.observe(row("k" -> JString("x"))).observe(row("k" -> JLong(1)))
      .observe(row("k" -> JBool(true)))
    val b = ChoiceSchema.empty.observe(row("k" -> JBool(true))).observe(row("k" -> JLong(1)))
      .observe(row("k" -> JString("x")))
    assert(a.columns("k").repr == "c-bool-int-str")
    assert(a.columns("k") == b.columns("k"))
  }

  test("convert: choice split, passthrough, null under original key") {
    val s = ChoiceSchema.empty.observe(case1).observe(case2)
    val out = s.convert(case1)
    assert(out("1_int") == JLong(1))
    assert(out("2_str") == JString("foobar"))
    assert(out("3") == JBool(false))
    assert(out("4") == JDouble(1.2))
    val withNull = s.convert(row("1" -> JNull, "3" -> JNull))
    assert(withNull("1") == JNull) // original key, not an output column
    assert(withNull("3") == JNull)
  }

  test("convert raises on type outside choice set") {
    val s = ChoiceSchema.empty.observe(row("1" -> JLong(1))).observe(row("1" -> JString("x")))
    assertThrows[IllegalStateException](s.convert(row("1" -> JBool(true))))
  }

  test("output columns: sorted, choice expanded (schema.test.py:185-197)") {
    val s = ChoiceSchema.empty.observe(case1).observe(case2)
    assert(s.outputColumns == Vector("1_int", "1_str", "2_float", "2_str", "3", "4"))
  }

  test("DDL golden (schema.test.py:18-36, IF NOT EXISTS per current source)") {
    val s = ChoiceSchema.empty.observe(row("1" -> JLong(1))).observe(row("1" -> JString("x")))
    val ddl = s.generateDdl("test")
    assert(ddl ==
      """CREATE TABLE IF NOT EXISTS "public"."test" (
        |    "1_int" BIGINT
        |    , "1_str" VARCHAR(65535)
        |);""".stripMargin)
  }

  test("DDL with DuckDB dialect") {
    val s = ChoiceSchema.empty.observe(row("x" -> JDouble(1.5), "y" -> JString("a")))
    val ddl = s.generateDdl("t", "main", DuckDbDialect)
    assert(ddl.contains("\"x\" DOUBLE") && ddl.contains("\"y\" VARCHAR"))
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS \"main\".\"t\""))
  }

  test("drop null columns") {
    val s = ChoiceSchema.empty.observe(row("a" -> JNull, "b" -> JLong(1)))
    val (s2, n) = s.dropNullColumns
    assert(n == 1 && s2.columns.keySet == Set("b"))
  }

  test("drop special char columns (schema.test.py:199-211)") {
    val s = ChoiceSchema(VectorMap(
      "abc " -> CInt, "def@#" -> CInt, "$$ghi" -> CInt, "jkl" -> CInt, "!@#mno" -> CInt))
    val (s2, n) = s.dropSpecialCharColumns()
    assert(n == 3 && s2.columns.keySet == Set("abc ", "jkl"))
  }

  test("drop case-insensitive duplicates keeps first (schema.test.py:213-238)") {
    val s = ChoiceSchema(VectorMap(
      "ABc " -> CInt, "DEf " -> CInt, "ghi" -> CInt, "jkl" -> CInt,
      "ABC" -> CInt, "abc " -> CInt, "JkL" -> CInt))
    val (s2, n) = s.dropDuplicateColumns
    assert(n == 2)
    assert(s2.columns.keySet == Set("ABc ", "DEf ", "ghi", "jkl", "ABC"))
  }

  test("serialize/deserialize round trip") {
    val s = ChoiceSchema.empty.observe(case1).observe(case2).observe(row("n" -> JNull))
    val s2 = ChoiceSchema.deserialize(s.serialize)
    assert(s2.columns == s.columns)
  }

  // --- property-based semigroup laws (the distributed-merge correctness) ---

  private val genJValue: Gen[JValue] = Gen.oneOf(
    Gen.const(JNull), Gen.oneOf(true, false).map(JBool.apply),
    Gen.chooseNum(-1000L, 1000L).map(JLong.apply),
    Gen.chooseNum(-10.0, 10.0).map(JDouble.apply),
    Gen.alphaStr.map(JString.apply))

  private val genRow: Gen[VectorMap[String, JValue]] =
    Gen.mapOf(Gen.zip(Gen.oneOf("a", "b", "c", "d"), genJValue)).map(m => VectorMap.from(m))

  private val genSchema: Gen[ChoiceSchema] =
    Gen.listOf(genRow).map(rows => rows.foldLeft(ChoiceSchema.empty)(_.observe(_)))

  test("merge is associative, commutative, idempotent") {
    forAll(genSchema, genSchema, genSchema) { (a, b, c) =>
      assert(a.merge(b).merge(c).columns == a.merge(b.merge(c)).columns)
      assert(a.merge(b).columns == b.merge(a).columns)
      assert(a.merge(a).columns == a.columns)
    }
  }

  /** The set-based definition of [[ColType.merge]], kept as the oracle for
    * its fast paths: the union of both sides' non-none base members.
    */
  private def mergeBySets(a: ColType, b: ColType): ColType = {
    def members(t: ColType): Set[String] = t match {
      case CChoice(ms) => ms.toSet
      case CNone => Set.empty
      case other => Set(other.repr)
    }
    if (a == b) a
    else {
      val ms = members(a) ++ members(b)
      if (ms.isEmpty) CNone
      else if (ms.size == 1) ColType.parse(ms.head)
      else CChoice(ms.toVector.sorted)
    }
  }

  private val genColType: Gen[ColType] = {
    val base = Gen.oneOf[ColType](CBool, CInt, CFloat, CStr, CNone, CDatetime,
      CUnsupported("list"), CUnsupported("dict"))
    Gen.frequency(2 -> base, 1 -> Gen.listOf(base).map(_.foldLeft[ColType](CNone)(mergeBySets)))
  }

  test("merge's fast paths agree with the set-based definition; known types keep their instance") {
    forAll(Gen.zip(genColType, genColType), 1000) { case (a, b) =>
      val merged = ColType.merge(a, b)
      assert(merged == mergeBySets(a, b), s"merge($a, $b)")
      // a value's own type is never a choice: that is the case observation meets
      if (merged == a && !b.isInstanceOf[CChoice]) assert(merged eq a, s"merge($a, $b) rebuilt $a")
      if (merged == b && !a.isInstanceOf[CChoice]) assert(merged eq b, s"merge($a, $b) rebuilt $b")
    }
    def sample(tag: String): JValue = tag match {
      case "bool" => JBool(true)
      case "int" => JLong(1)
      case "float" => JDouble(1.5)
      case "str" => JString("s")
      case _ => JNull
    }
    forAll(genSchema, 300) { s =>
      val admitted = s.columns.map {
        case (k, CChoice(ms)) => k -> sample(ms.head)
        case (k, t) => k -> sample(t.repr)
      }
      assert(s.observe(admitted) eq s, s"observing admitted values rebuilt $s")
      assert(s.observe(admitted.map { case (k, _) => k -> JNull }) eq s)
    }
  }

  test("sequential observe == merge of per-row schemas (shard equivalence, schema.test.py:85-98)") {
    forAll(Gen.listOf(genRow)) { rows =>
      val sequential = rows.foldLeft(ChoiceSchema.empty)(_.observe(_))
      val merged = ChoiceSchema.merge(rows.map(r => ChoiceSchema.empty.observe(r)))
      assert(sequential.columns == merged.columns)
    }
  }

  test("tagged payload round-trip: writeTaggedRow keys split back to (key, value tag)") {
    // keys exercise JSON escaping (quotes, backslashes, control chars,
    // unicode) — everything except the TagSep itself, which is reserved
    val genKey = Gen.oneOf(
      Gen.alphaNumStr.suchThat(_.nonEmpty),
      Gen.const("""with"quote"""), Gen.const("""back\slash"""),
      Gen.const("tab\there"), Gen.const("unié中"), Gen.const("sp ace"))
    val genVal: Gen[JValue] = Gen.oneOf(
      Gen.const(JNull), Gen.oneOf(true, false).map(JBool.apply),
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(JLong.apply),
      Gen.chooseNum(-1e9, 1e9).map(JDouble.apply),
      Gen.alphaStr.map(JString.apply), Gen.const(JString("nes\nted")))
    forAll(Gen.nonEmptyListOf(Gen.zip(genKey, genVal)), 300) { kvs =>
      val distinct = kvs.toMap.toSeq // writeRow last-wins on dup keys, like dict.update
      val parsed = Json.parseRow(Json.writeTaggedRow(distinct))
      assert(parsed.size == distinct.size)
      distinct.foreach { case (k, v) =>
        val tagged = Json.taggedKey(k, ColType.of(v).repr)
        assert(parsed.contains(tagged), s"missing $k")
        // the value itself survives the round trip (NaN scrub aside)
        assert(parsed(tagged) == v)
      }
    }
  }

  test("convert places every non-null value in exactly one output column") {
    forAll(Gen.listOf(genRow)) { rows =>
      val schema = rows.foldLeft(ChoiceSchema.empty)(_.observe(_))
      val outCols = schema.outputColumns.toSet
      rows.foreach { r =>
        val converted = schema.convert(r)
        r.foreach { case (k, v) =>
          if (!v.isNull) {
            val hits = converted.filter { case (ck, cv) => cv == v && (ck == k || ck.startsWith(k + "_")) }
            assert(hits.nonEmpty, s"value $k->$v lost in conversion")
            assert(hits.keys.forall(outCols.contains))
          }
        }
      }
    }
  }

  test("diff: added/removed/retyped with lattice-derived widening flags") {
    val old = ChoiceSchema.empty
      .observe(row("a" -> JLong(1), "b" -> JString("x"), "c" -> JBool(true), "d" -> JLong(2)))
    // newer: a widens int->choice(int,str); b unchanged; c removed; e added;
    // d "narrows" to bool (NOT reachable by observation from int = breaking)
    val newer = ChoiceSchema.empty
      .observe(row("a" -> JLong(1), "b" -> JString("x"), "e" -> JDouble(1.5)))
      .observe(row("a" -> JString("s"), "d" -> JBool(true)))
      // drop c by never observing it; force d's standalone type
    val byCol = old.diff(ChoiceSchema(newer.columns.removed("d").updated("d", CBool)))
      .map(d => d.column -> d).toMap
    assert(byCol("a").change == "retyped" && byCol("a").widening,
      "int -> choice(int,str) is lattice-reachable")
    assert(byCol("c").change == "removed" && !byCol("c").widening)
    assert(byCol("e").change == "added" && byCol("e").widening)
    assert(byCol("d").change == "retyped" && !byCol("d").widening,
      "int -> bool is not reachable by observation: breaking")
    assert(!byCol.contains("b"), "unchanged columns do not appear")
    // self-diff is empty; a pure observation extension is all-widening
    assert(old.diff(old).isEmpty)
    val extended = old.observe(row("a" -> JString("s"), "f" -> JLong(9)))
    assert(old.diff(extended).forall(_.widening),
      "every drift produced by further observation must be widening")
  }
}
