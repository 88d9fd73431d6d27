package etlbench

import org.apache.spark.sql.SparkSession

/** One local session for the benchmark's specs, configured as the
  * benchmark's own. */
object SparkTestSession {
  lazy val work: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("etlbench-spec")
  lazy val spark: SparkSession = Main.session(work)
}
