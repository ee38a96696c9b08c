package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (tests fork a single JVM). */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.builder("4", "4").appName("graft-tests").getOrCreate()
}
