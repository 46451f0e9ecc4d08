package graft.config

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.ColumnResolver

/** CalculationParameters (reference model.py:231-236; loader
  * consumer/database_setup.py:331-362): named JSON parameter blobs — the
  * `country_config/calculation_parameters` JSON files (medicine_kits,
  * vaccination_vials) — loaded once at plan-build time.
  *
  * Spark-first exposure: config is code. A parameter set compiles into
  * literal nested-map columns (or straight literals when the full path is
  * static), so rule lookups are codegen'd `element_at` chains — no join, no
  * broadcast variable, no UDF, nothing shuffled at any scale.
  *
  * Both shipped fixtures are two-level maps (`group -> key -> int|string`);
  * leaves are kept as strings, matching the engine's everything-is-a-string
  * form-data contract, and cast at the use site.
  */
object CalculationParameters {

  /** file-stem -> group -> key -> value (stringified). */
  type Params = Map[String, Map[String, Map[String, String]]]

  /** Load `*.json` parameter files, keyed by file stem
    * (database_setup.py:344-356; `.csv` is TODO upstream and unsupported
    * here too). */
  def load(paths: Seq[String]): Params = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    paths.map { path =>
      val stem = new java.io.File(path).getName.replaceAll("\\.json$", "")
      val parsed = JsonMethods.parse(new java.io.File(path))
      val groups = parsed match {
        case JObject(fields) => fields.map {
          case (group, JObject(kvs)) => group -> kvs.map {
            case (k, v) => k -> leaf(v)
          }.toMap
          case (group, other) =>
            throw new IllegalArgumentException(
              s"$path: parameter group $group is not an object: $other")
        }.toMap
        case other =>
          throw new IllegalArgumentException(s"$path: not a JSON object: $other")
      }
      stem -> groups
    }.toMap
  }

  private def leaf(v: org.json4s.JValue): String = v match {
    case org.json4s.JInt(i)     => i.toString
    case org.json4s.JLong(l)    => l.toString
    case org.json4s.JDouble(d)  => d.toString
    case org.json4s.JDecimal(d) => d.toString
    case org.json4s.JString(s)  => s
    case org.json4s.JBool(b)    => b.toString
    case other => org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(other))
  }

  /** One parameter group as a literal map column — for DYNAMIC lookups where
    * the key comes from the record (e.g. medicine kit dose by the row's
    * barcode). */
  def groupMap(params: Params, name: String, group: String): Column = {
    val entries = params.getOrElse(name,
      throw new IllegalArgumentException(s"unknown parameter set $name"))
      .getOrElse(group,
        throw new IllegalArgumentException(s"unknown group $group in $name"))
    map(entries.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
  }

  /** Dynamic lookup: params[name][group][key(row)] as a string column. */
  def value(params: Params, name: String, group: String, key: Column): Column =
    element_at(groupMap(params, name, group), key)

  /** Static lookup: params[name][group][key], None when absent. */
  def staticValue(params: Params, name: String, group: String,
                  key: String): Option[String] =
    params.get(name).flatMap(_.get(group)).flatMap(_.get(key))
}

/** Resolver decorator that serves `<file>.<group>.<key>` parameter paths as
  * literals and delegates everything else — this is how a `calc` rule
  * consumes a parameter: its calculation string (and db_column list) simply
  * names the parameter path as if it were a column, e.g.
  * `calculation = "doses / medicine_kits.barcode_albe.dose"`. */
final class ParameterResolver(base: ColumnResolver,
                              params: CalculationParameters.Params)
    extends ColumnResolver {
  private def lookup(name: String): Option[String] =
    name.split("\\.", 3) match {
      case Array(f, g, k) => CalculationParameters.staticValue(params, f, g, k)
      case _              => None
    }
  override def get(name: String): Column =
    lookup(name).map(v => lit(v)).getOrElse(base.get(name))
}
