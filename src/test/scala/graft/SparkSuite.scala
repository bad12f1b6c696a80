package graft

import org.apache.spark.sql.SparkSession

/** The Spark session every spec runs on: local[4], 4 shuffle partitions,
  * UTC session time zone, no UI. `getOrCreate` hands each spec the JVM's
  * running session, so the specs of one test run share it.
  */
trait SparkSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
