package graft.core

import org.apache.spark.sql.types._

/** The column-type lattice of the reference engine.
  *
  * Semantics derived from `relationalize/types.py:19-29` and
  * `relationalize/schema.py:214-319`:
  *   - base scalar tags: `bool`, `int`, `float`, `str`, `none`, `datetime`
  *   - a column observed with >= 2 distinct non-none scalar types becomes a
  *     *choice* type, serialized `c-<t1>-<t2>[-...]` with members kept sorted
  *     for determinism;
  *   - `none` is absorbed: it never joins a choice list and a column whose
  *     only observation is null stays `none` until a typed value arrives;
  *   - anything non-JSON-scalar maps to `unsupported:<tag>`.
  *
  * `merge` is an associative, commutative, idempotent semigroup — the property
  * that makes partition-parallel schema inference correct (the reference's own
  * shard-merge pattern, `relationalize/schema.py:259-302`).
  */
sealed trait ColType extends Serializable {
  def repr: String
  override def toString: String = repr
}

object ColType {
  case object CBool extends ColType { val repr = "bool" }
  case object CInt extends ColType { val repr = "int" }
  case object CFloat extends ColType { val repr = "float" }
  case object CStr extends ColType { val repr = "str" }
  case object CNone extends ColType { val repr = "none" }
  /** never inferred — reachable only via schema deserialization, matching the
    * reference (`relationalize/types.py:21`, `relationalize/sql_dialects.py:54`).
    */
  case object CDatetime extends ColType { val repr = "datetime" }

  /** members: sorted, distinct, none-free, size >= 2 */
  final case class CChoice(members: Vector[String]) extends ColType {
    require(members.size >= 2, s"choice needs >=2 members: $members")
    val repr: String = "c-" + members.mkString("-")
  }

  final case class CUnsupported(tag: String) extends ColType {
    val repr: String = s"unsupported:$tag"
  }

  val ChoicePrefix = "c-"

  def parse(s: String): ColType = s match {
    case "bool" => CBool
    case "int" => CInt
    case "float" => CFloat
    case "str" => CStr
    case "none" => CNone
    case "datetime" => CDatetime
    case _ if s.startsWith(ChoicePrefix) =>
      // normalize: drop nones, sort, collapse singletons — mirrors the
      // canonicalization the reference applies on every update
      val ms = s.drop(2).split('-').toVector.filter(_ != "none").distinct.sorted
      if (ms.isEmpty) CNone
      else if (ms.size == 1) parse(ms.head)
      else CChoice(ms)
    case _ if s.startsWith("unsupported:") => CUnsupported(s.stripPrefix("unsupported:"))
    case other => throw new IllegalArgumentException(s"unknown column type: $other")
  }

  /** Tag of a runtime value — `Schema._parse_type` (`schema.py:304-319`). */
  def of(v: JValue): ColType = v match {
    case JBool(_) => CBool
    case JLong(_) => CInt
    case JDouble(_) => CFloat
    case JString(_) => CStr
    case JNull => CNone
  }

  /** The non-none base members a type contributes to a choice union. */
  private def members(t: ColType): Set[String] = t match {
    case CChoice(ms) => ms.toSet
    case CNone => Set.empty
    case other => Set(other.repr)
  }

  /** The least type admitting both. Observation calls this once per value,
    * and nearly every call meets a type the column already admits, so those
    * cases return an existing instance without building member sets; a
    * caller can test `eq` on the result to see that nothing changed.
    */
  def merge(a: ColType, b: ColType): ColType = (a, b) match {
    case _ if a == b => a
    case (_, CNone) => a
    case (CNone, _) => b
    case (c: CChoice, t) if c.members.contains(t.repr) => c
    case (t, c: CChoice) if c.members.contains(t.repr) => c
    case _ =>
      val ms = members(a) ++ members(b)
      if (ms.isEmpty) CNone
      else if (ms.size == 1) parse(ms.head)
      else CChoice(ms.toVector.sorted)
  }

  /** Spark type for a base tag (`sql_dialects.py:52-59` analog: the
    * all-null placeholder maps to boolean).
    */
  def sparkTypeOf(baseTag: String): DataType = baseTag match {
    case "bool" => BooleanType
    case "int" => LongType
    case "float" => DoubleType
    case "str" => StringType
    case "none" => BooleanType
    case "datetime" => TimestampType
    case other => throw new IllegalArgumentException(s"no Spark type for: $other")
  }
}
