package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.checks.RowValidator
import graft.gen.Synth

/** Per-round benchmark main (driver contract): runs the headline validation
  * pass plus every SparkEntry query on SPARK_GRAFT_SF_DIR, prints ONE JSON
  * line {"metric","value","unit","queries",...}.
  *
  * The headline is validated-docs/sec over a materialized synthetic corpus
  * sized from the SF's lineitem row count (the documents table is a fixed
  * 500 rows at every SF, too small to measure). Generation is excluded from
  * timing: the corpus parquet is cached under /tmp keyed by size.
  */
object Bench {

  /** Defect rate of the benchmark corpus (2% — healthy-corpus shape; the
    * all-defect striped corpus would benchmark only the violation-rendering
    * slow path, which real data rarely hits).
    */
  val DefectPermille = 20

  def corpusDir(n: Long): String =
    sys.env.getOrElse("SPARK_GRAFT_CORPUS", s"/tmp/graft_bench_corpus_${n}_$DefectPermille")

  /** True when the last ensureCorpus call hit the /tmp cache (recorded in
    * the bench JSON so stale-cache effects are visible per-round).
    */
  @volatile var corpusWasCached: Boolean = false

  def ensureCorpus(spark: SparkSession, n: Long, files: Int): String = {
    val dir = corpusDir(n)
    val p = new Path(dir, "_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    corpusWasCached = fs.exists(p)
    if (!corpusWasCached) {
      Synth.corpusMixed(spark, n, DefectPermille, Some(files))
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Time the full validation pass (scan + validate + verdict aggregate). */
  def timeValidate(spark: SparkSession, dir: String): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = RowValidator.verdicts(spark.read.parquet(dir))
      .agg(count(lit(1)), count(when(not(col("passed")), 1)))
      .collect().head.getLong(0)
    ((System.nanoTime() - t0) / 1e9, n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cores
    val spark = Session.create("graft-bench", cpus)

    // headline corpus: 8x lineitem rows (4.8M docs at sf0.1), 128 files —
    // long enough runs that fixed overhead does not dominate the timing
    def phase[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"BENCHPHASE $tag ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    val liRows = phase("lineitem_count") {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    }
    val nDocs = math.max(800000L, liRows * 8)
    val dir = phase("ensure_corpus") { ensureCorpus(spark, nDocs, 128) }
    // in-window pure-CPU control BRACKETS the headline measurement (pre +
    // post): this host's throughput swings 4-7x with memory weather, so the
    // artifact carries its own normalizer — validate_docs_per_ghash is the
    // weather-cancelled headline to compare across rounds
    val ctlPre = phase("control_pre") { tools.Control.hashRate(spark, cpus) }
    phase("warmup_validate") { timeValidate(spark, dir) }
    val (valSec, _) = phase("timed_validate") { timeValidate(spark, dir) }
    val ctlPost = phase("control_post") { tools.Control.hashRate(spark, cpus) }
    val docsPerSec = nDocs / valSec
    // geometric mean of the bracketing controls: min() systematically
    // inflated the normalized headline when one control window degraded
    // (round-4 ADVICE); both raw readings still ship in the JSON so either
    // normalization is recoverable
    val ctl = math.sqrt(ctlPre * ctlPost)

    val results = scala.collection.mutable.LinkedHashMap[String, Double](
      "marc_validate" -> valSec)
    val rowCounts = scala.collection.mutable.LinkedHashMap[String, Long](
      "marc_validate" -> nDocs)
    var failures = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      // a broken query must fail loudly (-1), never record a fast timing
      try { rowCounts(name) = fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          failures += 1
          System.err.println(s"BENCH QUERY FAILED $name: $e")
          rowCounts(name) = -1L
      }
      results(name) =
        if (rowCounts(name) < 0) -1.0 else (System.nanoTime() - t0) / 1e9
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val rs = rowCounts.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val heapG = Runtime.getRuntime.maxMemory() / (1 << 30)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"rows":$rs,"failures":$failures,"sf":"$sfDir","headline_docs":$nDocs,"validate_docs_per_sec":$docsPerSec%.0f,"control_ghash_per_sec_pre":${ctlPre / 1e9}%.3f,"control_ghash_per_sec_post":${ctlPost / 1e9}%.3f,"validate_docs_per_ghash":${docsPerSec / (ctl / 1e9)}%.0f,"cpus":$cpus,"heap_gib":$heapG,"corpus_cached":$corpusWasCached}""")
    spark.stop()
  }
}
