package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Session(4)
}
