package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Abstraction over "where does a form field live" so the variable compiler
  * works both against schemaless form data (`data: Map[String,String]`, the
  * reference's JSONB column — model.py:28) and against flat typed columns
  * (the TPC-H-shaped gate tables).
  */
trait ColumnResolver {
  /** The field's value as a string column; null when absent. */
  def get(name: String): Column
  /** Whether the field exists for this row (boolean column). The reference
    * distinguishes a *missing* key (→ not applicable) from an empty value
    * (→ 0 in `calc`, fail in `between`) — variable.py:296-313. */
  def exists(name: String): Column
  /** The field parsed through the permissive date ladder. */
  def dateParsed(name: String): Column = VariableCompiler.parseDate(get(name))
}

/** Form data carried as MapType(String, String) — ODK values are all strings. */
final class MapResolver(data: Column) extends ColumnResolver {
  override def get(name: String): Column = element_at(data, name)
  override def exists(name: String): Column = element_at(data, name).isNotNull
}

/** Flat DataFrame columns; existence is static per schema. Values are cast to
  * string to mirror ODK's everything-is-a-string contract. */
final class FlatResolver(schema: Set[String]) extends ColumnResolver {
  override def get(name: String): Column =
    if (schema(name)) col(name).cast("string") else lit(null).cast("string")
  override def exists(name: String): Column = lit(schema(name))
}
