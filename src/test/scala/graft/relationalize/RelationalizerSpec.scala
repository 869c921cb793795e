package graft.relationalize

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** Structural golden tests ported from the reference suite
  * (`test/relationalize.test.py:11-372`, CASE_1..CASE_8). Deterministic rids
  * make exact assertions possible where the reference used regexes.
  */
class RelationalizerSpec extends AnyFunSuite {

  private val RidPattern = "R_[a-z0-9]{32}".r

  private def run(json: String, name: String = "t"): Map[String, Vector[Relationalizer.FlatRow]] =
    Relationalizer.relationalizeLine(json, name, docKey = "test:0")
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  private def ridOf(v: JValue): String = v match {
    case JString(s) => assert(RidPattern.matches(s), s"not a rid: $s"); s
    case other => fail(s"expected rid string, got $other")
  }

  test("CASE_1: flat object passes through unchanged (:32-40)") {
    val t = run("""{"1": 1, "2": "foobar", "3": false, "4": 1.2}""")
    assert(t.keySet == Set("t"))
    assert(t("t") == Vector(Map("1" -> JLong(1), "2" -> JString("foobar"),
      "3" -> JBool(false), "4" -> JDouble(1.2))))
  }

  test("CASE_3: scalar array -> child table with __val_/__rid_/__index_ (:52-73)") {
    val t = run("""{"1": [1, 2], "2": "foobar"}""")
    assert(t.keySet == Set("t", "t_1"))
    val root = t("t").head
    val rid = ridOf(root("1"))
    assert(root("2") == JString("foobar"))
    assert(t("t_1") == Vector(
      Map("1__val_" -> JLong(1), "1__rid_" -> JString(rid), "1__index_" -> JLong(0)),
      Map("1__val_" -> JLong(2), "1__rid_" -> JString(rid), "1__index_" -> JLong(1))))
  }

  test("CASE_4: struct array -> child columns 1_2/1_3 (:75-109)") {
    val t = run("""{"1": [{"2": "foobar", "3": 1}, {"2": "barfoo", "3": 3}], "2": "foobar"}""")
    assert(t.keySet == Set("t", "t_1"))
    val rid = ridOf(t("t").head("1"))
    assert(t("t_1") == Vector(
      Map("1_2" -> JString("foobar"), "1_3" -> JLong(1), "1__rid_" -> JString(rid), "1__index_" -> JLong(0)),
      Map("1_2" -> JString("barfoo"), "1_3" -> JLong(3), "1__rid_" -> JString(rid), "1__index_" -> JLong(1))))
  }

  test("CASE_5: list of lists -> grand-child table t_1__val_ (:111-184)") {
    val t = run("""{"1": [[1], [2, 3]]}""")
    assert(t.keySet == Set("t", "t_1", "t_1__val_"))
    val outerRid = ridOf(t("t").head("1"))
    val mids = t("t_1")
    assert(mids.map(_.apply("1__rid_")) == Vector(JString(outerRid), JString(outerRid)))
    assert(mids.map(_.apply("1__index_")) == Vector(JLong(0), JLong(1)))
    val innerRids = mids.map(r => ridOf(r("1__val_")))
    assert(innerRids.distinct.size == 2)
    val leaves = t("t_1__val_")
    assert(leaves.map(r => (ridOf(r("1__val___rid_")), r("1__val___index_"), r("1__val___val_"))) ==
      Vector((innerRids(0), JLong(0), JLong(1)),
             (innerRids(1), JLong(0), JLong(2)),
             (innerRids(1), JLong(1), JLong(3))))
  }

  test("CASE_6: array inside struct-array (:186-262)") {
    val t = run("""{"1": [{"2": "foobar", "3": [1, 2]}, {"2": "barfoo", "3": [3, 4]}], "2": "foobar"}""")
    assert(t.keySet == Set("t", "t_1", "t_1_3"))
    val rid = ridOf(t("t").head("1"))
    val mids = t("t_1")
    assert(mids.map(_.apply("1_2")) == Vector(JString("foobar"), JString("barfoo")))
    assert(mids.forall(r => r("1__rid_") == JString(rid)))
    val innerRids = mids.map(r => ridOf(r("1_3")))
    val leaves = t("t_1_3")
    assert(leaves.map(r => (ridOf(r("1_3__rid_")), r("1_3__index_"), r("1_3__val_"))) ==
      Vector((innerRids(0), JLong(0), JLong(1)), (innerRids(0), JLong(1), JLong(2)),
             (innerRids(1), JLong(0), JLong(3)), (innerRids(1), JLong(1), JLong(4))))
  }

  test("CASE_7: nested struct flattens with _ delimiter (:264-274)") {
    val t = run("""{"1": {"2": 1, "3": "foobar"}}""")
    assert(t.keySet == Set("t"))
    assert(t("t") == Vector(Map("1_2" -> JLong(1), "1_3" -> JString("foobar"))))
  }

  test("CASE_8: list of list of struct (:276-372)") {
    val t = run("""{"1": [[{"2": 3}, {"2": 4}], [{"2": 5}, {"2": 6}]]}""")
    assert(t.keySet == Set("t", "t_1", "t_1__val_"))
    val mids = t("t_1")
    val innerRids = mids.map(r => ridOf(r("1__val_")))
    val leaves = t("t_1__val_")
    assert(leaves.map(_.apply("1__val__2")) == Vector(JLong(3), JLong(4), JLong(5), JLong(6)))
    assert(leaves.map(r => ridOf(r("1__val___rid_"))) ==
      Vector(innerRids(0), innerRids(0), innerRids(1), innerRids(1)))
    assert(leaves.map(_.apply("1__val___index_")) == Vector(JLong(0), JLong(1), JLong(0), JLong(1)))
  }

  test("empty array: parent rid minted, no child rows (dangling FK)") {
    val t = run("""{"a": [], "b": 1}""")
    assert(t.keySet == Set("t"))
    ridOf(t("t").head("a"))
  }

  test("null scalar and null array element") {
    val t = run("""{"a": null, "b": [null, 1]}""")
    assert(t("t").head("a") == JNull)
    assert(t("t_b").map(_.apply("b__val_")) == Vector(JNull, JLong(1)))
  }

  test("flatten collision: a.b vs a_b — last write wins (relationalize.py:113-117)") {
    val t = run("""{"a": {"b": 1}, "a_b": 2}""")
    assert(t("t") == Vector(Map("a_b" -> JLong(2))))
    val t2 = run("""{"a_b": 2, "a": {"b": 1}}""")
    assert(t2("t") == Vector(Map("a_b" -> JLong(1))))
  }

  test("root-level array: children land in table name + '_' (empty path), parent row has empty-string key") {
    // reference behavior: path "" + is_sub naming => identifier f"{name}_{''}"
    val t = run("""[1, 2]""")
    assert(t.keySet == Set("t", "t_"))
    assert(t("t_").map(_.apply("_val_")) == Vector(JLong(1), JLong(2)))
    assert(t("t_").map(_.apply("_index_")) == Vector(JLong(0), JLong(1)))
    ridOf(t("t").head(""))
  }

  test("rids are deterministic in docKey and distinct across docs") {
    val a = Relationalizer.relationalizeLine("""{"x": [1]}""", "t", "k1")
    val b = Relationalizer.relationalizeLine("""{"x": [1]}""", "t", "k1")
    val c = Relationalizer.relationalizeLine("""{"x": [1]}""", "t", "k2")
    assert(a == b)
    assert(a != c)
  }

  test("rid and content-key hex are pinned byte for byte (goldens from Python hashlib)") {
    // hashlib.md5(b"0:0:0").hexdigest(): docKey "0:0", rid ordinal 0
    val root = Relationalizer.relationalizeLine("""{"x":[1]}""", "t", "0:0").last
    assert(root == ("t", Map("x" -> JString("R_90e48cd0d5d9ad4fa889c6194452bea7"))))
    // hashlib.md5(b'{"a":1}').hexdigest()
    assert(Relationalizer.contentDocKey("""{"a":1}""") == "bb6cb5c68df4652941caf652a366f2d8")
  }

  test("mock LMS shape: users + users_enrollments (FIXTURES.md §3)") {
    val json = """{"user_id": "u1", "created_at": 1700000000, "name": "A", "email": "a@x.com",
                  |"enrollments": [{"course_id": "c1", "timestamp": 1}, {"course_id": "c2", "timestamp": 2}]}""".stripMargin
    val t = run(json, name = "users")
    assert(t.keySet == Set("users", "users_enrollments"))
    val root = t("users").head
    val rid = ridOf(root("enrollments"))
    assert(root("user_id") == JString("u1"))
    assert(t("users_enrollments") == Vector(
      Map("enrollments_course_id" -> JString("c1"), "enrollments_timestamp" -> JLong(1),
        "enrollments__rid_" -> JString(rid), "enrollments__index_" -> JLong(0)),
      Map("enrollments_course_id" -> JString("c2"), "enrollments_timestamp" -> JLong(2),
        "enrollments__rid_" -> JString(rid), "enrollments__index_" -> JLong(1))))
  }
}
