package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM (forked by sbt). */
object SparkTestSession {
  lazy val spark: SparkSession =
    GraftSession.logWarnings(GraftSession.builder("local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .getOrCreate())
}
