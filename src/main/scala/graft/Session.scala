package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main (Bench, Verify, the
  * tools) and the shared test session go through [[build]], so they all
  * run the same session shape:
  *  - `local[cores]` with `spark.sql.shuffle.partitions` = cores;
  *  - UTC session time zone, AQE on, UI off;
  *  - [[Tables.requiredConfs]] (testdata readers and engine extensions)
  *    and the WARN log level.
  *
  * The environment is read here and nowhere else: `SPARK_GRAFT_CPUS`
  * (default: every available processor) and `SPARK_GRAFT_SF_DIR` (the
  * scale factor Bench and the tools run against, default sf0.1). */
object Session {

  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  lazy val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Build (or join) the session. `confs` carry deployment paths only —
    * the test warehouse — and are applied after the base confs. */
  def build(cores: Int = cores,
            confs: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    (Tables.requiredConfs ++ confs).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
