package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession the suites of a test JVM share. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
