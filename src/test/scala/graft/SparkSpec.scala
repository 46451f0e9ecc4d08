package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object SparkSpec {
  lazy val spark: SparkSession = Session.build(cores = 4, confs = Map(
    // bucketed-table tests write through the catalog; keep the warehouse
    // out of the repo tree
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
}
