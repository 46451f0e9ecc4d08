package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. Generated code
  * that fails to compile fails the test: Spark's default would fall back to
  * interpreted evaluation and log the error, so a native expression with a
  * broken `doGenCode` passed every test while running interpreted. */
object SparkSpec {
  lazy val spark: SparkSession = Session.build(cores = 4, confs = Map(
    "spark.sql.codegen.fallback" -> "false",
    // bucketed-table tests write through the catalog; keep the warehouse
    // out of the repo tree
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
}
