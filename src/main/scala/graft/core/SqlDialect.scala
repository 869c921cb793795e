package graft.core

/** SQL dialect abstraction for DDL generation.
  *
  * Mirrors the surface of the reference's `SQLDialect` ABC
  * (`relationalize/sql_dialects.py:12-36`): a base-type -> column-type map, a
  * per-column renderer, and a CREATE TABLE template.
  */
trait SqlDialect extends Serializable {
  /** base tag (bool/int/float/str/none/datetime) -> dialect column type */
  def typeMapping: Map[String, String]

  def ddlColumn(columnName: String, columnType: String): String =
    s"${SqlDialect.quoteIdent(columnName)} $columnType"

  def columnSeparator: String = "\n    , "

  def createTable(schemaName: String, tableName: String, columns: Seq[String]): String =
    s"""CREATE TABLE IF NOT EXISTS ${SqlDialect.qualified(schemaName, tableName)} (
       |    ${columns.mkString(columnSeparator)}
       |);""".stripMargin
}

/** Quoting for every name and value spliced into generated SQL. Table and
  * column names come from document keys (a child table is
  * `<name>_<path>`), so a key holding `"` or `'` must neither break the
  * statement nor write SQL of its own.
  */
object SqlDialect {
  /** `name` as one double-quoted identifier (an embedded `"` doubles). */
  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  /** `"schema"."table"`. */
  def qualified(schemaName: String, tableName: String): String =
    s"${quoteIdent(schemaName)}.${quoteIdent(tableName)}"

  /** `value` as one single-quoted string literal (an embedded `'` doubles). */
  def quoteLiteral(value: String): String = "'" + value.replace("'", "''") + "'"
}

/** Postgres/Redshift-flavored dialect (`sql_dialects.py:47-70`). */
object PostgresDialect extends SqlDialect {
  val typeMapping: Map[String, String] = Map(
    "int" -> "BIGINT",
    "datetime" -> "TIMESTAMP",
    "float" -> "FLOAT",
    "str" -> "VARCHAR(65535)",
    "bool" -> "BOOLEAN",
    "none" -> "BOOLEAN", // all-null column: arbitrary placeholder, per reference
  )
}

/** DuckDB-flavored dialect — same shape, ANSI types. */
object DuckDbDialect extends SqlDialect {
  val typeMapping: Map[String, String] = Map(
    "int" -> "BIGINT",
    "datetime" -> "TIMESTAMP",
    "float" -> "DOUBLE",
    "str" -> "VARCHAR",
    "bool" -> "BOOLEAN",
    "none" -> "BOOLEAN",
  )
}
