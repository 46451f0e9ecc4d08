package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Abstraction over "where does a form field live" so the code catalog
  * evaluates both against schemaless form data (`data: Map[String,String]`,
  * the reference's JSONB column — model.py:28) and against flat typed
  * columns (the TPC-H-shaped gate tables).
  *
  * A field is present when its value is non-null, for every resolver: the
  * reference distinguishes a *missing* key (→ not applicable) from an empty
  * value (→ 0 in `calc`, fail in `between`) — variable.py:296-313.
  */
trait ColumnResolver {
  /** The field's value as a string column; null when absent. */
  def get(name: String): Column
}

/** Form data carried as MapType(String, String) — ODK values are all strings. */
final class MapResolver(data: Column) extends ColumnResolver {
  override def get(name: String): Column = element_at(data, name)
}

/** Flat DataFrame columns, cast to string to mirror ODK's
  * everything-is-a-string contract; a column outside the schema, like a
  * null cell, reads as absent. */
final class FlatResolver(schema: Set[String]) extends ColumnResolver {
  override def get(name: String): Column =
    if (schema(name)) col(name).cast("string") else lit(null).cast("string")
}
