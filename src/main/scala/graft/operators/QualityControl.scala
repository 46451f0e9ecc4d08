package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config.QualityControlDef
import graft.functions.{MapResolver, VariableCompiler}

/** quality_control step (reference
  * pipeline_worker/process_steps/quality_control.py:14-245) over a raw form
  * DataFrame `(uuid string, data map<string,string>)`:
  *
  *  (a) random-fraction sampling gate (`import_fraction`) — seeded here for
  *      reproducibility (the reference uses an unseeded `random.random()`)
  *  (b) drop when SubmissionDate < only_import_after_date
  *  (c) anti-join against the exclusion uuid list
  *  (d) "import"-type QC codes: when the predicate FAILS →
  *        category ["discard"]        → drop the row
  *        category ["replace:<col>"]  → overwrite with the other column
  *        otherwise                   → null the column
  *  (e) approved-deviceid gate + per-clinic start-date cutoff
  *  (f) per-data-type event-date parseable validation (date must parse, so it
  *      can convert to an epi week downstream)
  *
  * (g) list flattening is moot: CSV/map values are already flat strings.
  *
  * Scale: everything is a filter/projection except (c), a broadcast anti-join
  * — no shuffle of the fact stream at any size.
  */
object QualityControl {

  /** @param exclusions optional exclusion list as a DataFrame with a `uuid`
    *        column — the reference stores exclusion lists as their own table
    *        (`database_setup.py` exclusion_lists), so callers with a
    *        table-shaped list pass it here instead of `cfg.exclusionUuids` */
  def apply(form: DataFrame, cfg: QualityControlDef,
            dateValidationColumns: Seq[(Option[(String, String)], String)] = Nil,
            sampleSeed: Long = 42L,
            exclusions: Option[DataFrame] = None): DataFrame = {
    val r = new MapResolver(col("data"))
    var df = form

    cfg.importFraction.foreach { f => df = df.sample(withReplacement = false, f, sampleSeed) }

    cfg.onlyImportAfter.foreach { ts =>
      df = df.filter(
        VariableCompiler.parseDate(r.get("SubmissionDate")) >= lit(ts).cast("timestamp"))
    }

    val exclDf = exclusions.orElse {
      if (cfg.exclusionUuids.isEmpty) None
      else Some(form.sparkSession.createDataFrame(
        cfg.exclusionUuids.map(Tuple1(_))).toDF("uuid"))
    }
    exclDf.foreach { e =>
      // a genuine anti-join (the list is a config table in the reference);
      // broadcast keeps the fact side shuffle-free
      df = df.join(broadcast(e.select(col("uuid").as("excl_uuid"))),
        col("uuid") === col("excl_uuid"), "left_anti")
    }

    // one evaluation per code, in order: a later code tests the column as
    // the earlier codes repaired it
    cfg.qcCodes.foreach { code =>
      val (pred, _) = ToCodes.outcomes(Seq(code), r).head
      if (code.category == Seq("discard")) {
        df = df.filter(pred) // failing the check drops the row
      } else {
        val column = code.dbColumn.split(";")(0).split(",")(0)
        val replacement: org.apache.spark.sql.Column = code.category.headOption match {
          case Some(c) if c.startsWith("replace:") => r.get(c.stripPrefix("replace:"))
          case _ => lit(null).cast("string")
        }
        // failing the check repairs the column in place inside the map
        df = df.withColumn("data",
          when(pred, col("data"))
            .otherwise(map_concat(col("data"), map(lit(column), replacement))))
      }
    }

    cfg.approvedDeviceIds.foreach { ids =>
      df = df.filter(r.get("deviceid").isin(ids: _*))
    }
    if (cfg.deviceStartDates.nonEmpty) {
      val entries = cfg.deviceStartDates.toSeq.flatMap { case (d, s) =>
        Seq(lit(d), lit(s)) }
      val startDates = map(entries: _*)
      val sd = element_at(startDates, r.get("deviceid"))
      df = df.filter(sd.isNull ||
        (VariableCompiler.parseDate(r.get("SubmissionDate")).isNotNull &&
          VariableCompiler.parseDate(r.get("SubmissionDate")) >= sd.cast("timestamp")))
    }

    // (f) for each data type over this form: when the row belongs to the type,
    // its date column must parse (quality_control.py:190-245)
    dateValidationColumns.foreach { case (cond, dateCol) =>
      val inType = cond match {
        case Some((c, v)) => r.get(c) === v
        case None         => lit(true)
      }
      df = df.filter(!inType || VariableCompiler.parseDate(r.get(dateCol)).isNotNull)
    }
    df
  }
}
