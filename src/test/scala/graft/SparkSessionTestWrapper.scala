package graft

import org.apache.spark.sql.SparkSession

/** One shared factory session for the whole test JVM (Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = Session.create("graft-test")
}

trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = TestSpark.spark
}
