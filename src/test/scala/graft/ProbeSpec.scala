package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory and the Probe subcommands that need no output file. */
class ProbeSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val sf = "/root/testdata/sf0.001"

  test("factory session: UTC, UI off, AQE on, shuffle partitions = cores; TestSpark uses it") {
    // the builder's settings, not the runtime conf other suites may toggle
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false" && spark.sparkContext.uiWebUrl.isEmpty)
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == Session.cores.toString)
    assert(spark.sparkContext.master ==
      sys.env.getOrElse("SPARK_MASTER", s"local[${Session.cores}]"))
    assert(spark.sparkContext.appName == "graft-test")
  }

  test("Probe explain prints one query's formatted physical plan") {
    val out = Probe.explain(spark, sf, Seq("text_token_counts"))
    assert(out.startsWith("==== text_token_counts ====\n"), out)
    assert(out.contains("== Physical Plan ==") && out.contains("Scan parquet"), out)
  }

  test("Probe time runs one query once and reports min = median") {
    val Seq((name, min, median)) = Probe.time(spark, sf, Seq("text_token_counts"), reps = 1)
    assert(name == "text_token_counts" && min > 0 && min == median)
    intercept[NoSuchElementException](Probe.time(spark, sf, Seq("no_such_query"), reps = 1))
  }
}
