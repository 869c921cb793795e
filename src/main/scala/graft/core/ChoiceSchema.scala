package graft.core

import org.apache.spark.sql.types._

import scala.collection.immutable.VectorMap

/** A choice-supporting schema for a flattened JSON table.
  *
  * Functional re-expression of the reference's mutable `Schema` class
  * (`relationalize/schema.py`): observation folds rows into the column-type
  * lattice; `merge` combines shard schemas; `convert` splits choice-typed
  * values into `<col>_<tag>` sub-columns; DDL and output-column generation
  * follow the reference's sorted-column canon.
  *
  * Insertion order of first observation is preserved (the reference relies on
  * dict ordering for `drop_duplicate_columns`' keep-first rule,
  * `schema.py:176-192`).
  */
final case class ChoiceSchema(columns: VectorMap[String, ColType]) {
  import ColType._

  /** Fold one row into the schema. Returns `this` when every value's type
    * is already admitted, which is the common case once a table's columns
    * have been seen.
    */
  def observe(row: Iterable[(String, JValue)]): ChoiceSchema = {
    var cols = columns
    row.foreach { case (k, v) =>
      val t = ColType.of(v)
      cols.get(k) match {
        case Some(old) =>
          val merged = ColType.merge(old, t)
          if (merged ne old) cols = cols.updated(k, merged)
        case None => cols = cols.updated(k, t)
      }
    }
    if (cols eq columns) this else ChoiceSchema(cols)
  }

  def merge(other: ChoiceSchema): ChoiceSchema = {
    var cols = columns
    other.columns.foreach { case (k, t) =>
      cols = cols.updated(k, cols.get(k).fold(t)(ColType.merge(_, t)))
    }
    ChoiceSchema(cols)
  }

  /** Split choice-typed values into `<col>_<tag>` columns.
    *
    * Nulls pass through under the original key (reference quirk,
    * `schema.py:49-52`); since the original key is not an output column for a
    * choice column, a null simply leaves every choice sub-column null — the
    * documented divergence from the reference's CSV-writer crash (SURVEY §2.5
    * P3). Keys absent from the schema are dropped. A non-null value whose tag
    * is outside a choice column's member set raises, as in the reference.
    */
  def convert(row: Iterable[(String, JValue)]): VectorMap[String, JValue] = {
    var out = VectorMap.empty[String, JValue]
    row.foreach { case (k, v) =>
      if (v.isNull) out = out.updated(k, JNull)
      else columns.get(k) match {
        case None => // unseen key: drop
        case Some(CChoice(ms)) =>
          val tag = ColType.of(v).repr
          if (!ms.contains(tag))
            throw new IllegalStateException(
              s"value type $tag for column $k not in choice members ${ms.mkString(",")}")
          out = out.updated(s"${k}_$tag", v)
        case Some(_) => out = out.updated(k, v)
      }
    }
    out
  }

  /** (output column, source column, member tag) triples, output-sorted:
    * choice columns expand per member (`schema.py:98-114`). The one owner
    * of the output layout — pass 2's decode, the Spark schema, the DDL and
    * a sink migration's re-routing all read it.
    */
  def outputBindings: Vector[(String, String, String)] =
    columns.iterator.flatMap {
      case (k, CChoice(ms)) => ms.filter(_ != "none").map(m => (s"${k}_$m", k, m))
      case (k, t) => Vector((k, k, t.repr))
    }.toVector.sortBy(_._1)

  /** Final output column names, sorted. */
  def outputColumns: Vector[String] = outputBindings.map(_._1)

  /** Output column -> its base tag. */
  def outputTags: Map[String, String] = outputBindings.map(b => b._1 -> b._3).toMap

  /** Spark schema of the converted output (sorted columns, all nullable). */
  def toStructType: StructType = StructType(outputBindings.map { case (c, _, tag) =>
    StructField(c, ColType.sparkTypeOf(tag), nullable = true)
  })

  def generateDdl(table: String, schemaName: String = "public",
                  dialect: SqlDialect = PostgresDialect): String = {
    val cols = outputBindings.map { case (c, _, tag) =>
      val sqlType = dialect.typeMapping.getOrElse(tag,
        throw new IllegalStateException(s"no DDL mapping for type $tag (column $c)"))
      dialect.ddlColumn(c, sqlType)
    }
    // reference sorts the rendered column definitions (`schema.py:141`);
    // since our outputColumns are already name-sorted and names are quoted
    // first in the rendering, re-sorting matches its behavior
    dialect.createTable(schemaName, table, cols.sorted)
  }

  /** Drop `none`-typed columns (`schema.py:144-157`). Returns (new, count). */
  def dropNullColumns: (ChoiceSchema, Int) = {
    val keep = columns.filter { case (_, t) => t != CNone }
    (ChoiceSchema(keep), columns.size - keep.size)
  }

  /** Drop columns with characters outside alnum + allowed set
    * (`schema.py:159-174`).
    */
  def dropSpecialCharColumns(allowed: Set[Char] = ChoiceSchema.AllowedColumnChars): (ChoiceSchema, Int) = {
    val keep = columns.filter { case (k, _) => k.forall(c => c.isLetterOrDigit || allowed(c)) }
    (ChoiceSchema(keep), columns.size - keep.size)
  }

  /** Drop case-insensitive duplicate columns, keeping the first observed
    * (`schema.py:176-192`).
    */
  def dropDuplicateColumns: (ChoiceSchema, Int) = {
    val seen = scala.collection.mutable.Set.empty[String]
    val keep = columns.filter { case (k, _) => seen.add(k.toLowerCase(java.util.Locale.ROOT)) }
    (ChoiceSchema(keep), columns.size - keep.size)
  }

  /** Drift report against a NEWER snapshot of the same table — the
    * schema-governance view of evolution (what a reviewer checks before a
    * sink migration runs): added / removed / retyped columns, each flagged
    * `widening` when the change is reachable by the observation lattice
    * (merge(old, new) == new) — i.e. old data still fits and the evolving
    * sink can migrate mechanically — versus a BREAKING change (type
    * narrowed or column dropped), which only a human decision can bless.
    * The reference has no counterpart; its users diff warehouse DDL by eye.
    */
  def diff(newer: ChoiceSchema): Vector[ChoiceSchema.ColumnDrift] = {
    val out = Vector.newBuilder[ChoiceSchema.ColumnDrift]
    columns.foreach { case (k, t) =>
      newer.columns.get(k) match {
        case None =>
          out += ChoiceSchema.ColumnDrift(k, "removed", Some(t.repr), None, widening = false)
        case Some(t2) if t2 != t =>
          out += ChoiceSchema.ColumnDrift(k, "retyped", Some(t.repr), Some(t2.repr),
            widening = ColType.merge(t, t2) == t2)
        case _ => ()
      }
    }
    newer.columns.foreach { case (k, t2) =>
      if (!columns.contains(k))
        out += ChoiceSchema.ColumnDrift(k, "added", None, Some(t2.repr), widening = true)
    }
    out.result()
  }

  /** JSON object {col: typeRepr} in insertion order (`schema.py:201-205`). */
  def serialize: String =
    Json.writeRow(columns.iterator.map { case (k, t) => k -> JString(t.repr) }.toSeq)

  def isEmpty: Boolean = columns.isEmpty
}

object ChoiceSchema {
  val AllowedColumnChars: Set[Char] = Set(' ', '-', '_')

  /** One drifted column in a [[ChoiceSchema.diff]] report. */
  final case class ColumnDrift(column: String, change: String,
                               from: Option[String], to: Option[String],
                               widening: Boolean)

  val empty: ChoiceSchema = ChoiceSchema(VectorMap.empty)

  def deserialize(s: String): ChoiceSchema =
    ChoiceSchema(Json.parseRow(s).map {
      case (k, JString(t)) => k -> ColType.parse(t)
      case (k, other) => throw new IllegalArgumentException(s"bad schema entry $k -> $other")
    })

  def merge(schemas: Iterable[ChoiceSchema]): ChoiceSchema =
    schemas.foldLeft(empty)(_.merge(_))
}
