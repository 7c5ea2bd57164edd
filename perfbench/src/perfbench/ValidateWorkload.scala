package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.checks.{RowValidator, ValidationJob}
import graft.gen.Synth
import graft.io.{Ledger, ParquetSnapshotIO}
import graft.schema.Doc

/** The MARC span corpus and what its generator planted in it. Docs reuse
  * [[Synth.doc]]'s per-class span layout; the seed picks which ~2% of docs
  * carry a defect and which of the 8 defect classes each carries.
  */
object MarcCorpus {
  val Files = 64
  val DefectPermille = 20

  def docId(seed: Long, i: Long): Long = {
    val h = graft.expr.Mix64.mix(i ^ (seed * 0x2545f4914f6cdd1dL))
    val cls =
      if (java.lang.Long.remainderUnsigned(h, 1000L) < DefectPermille)
        1 + java.lang.Long.remainderUnsigned(h >>> 17, 8L).toInt
      else 0
    i * Synth.NumClasses + cls
  }

  def doc(seed: Long, i: Long): Doc = Synth.doc(docId(seed, i))

  final case class Planted(docs: Long, failedDocs: Long, violations: Map[String, Long]) {
    def totalViolations: Long = violations.values.sum
  }

  def planted(seed: Long, n: Long): Planted = {
    val perClass = new Array[Long](Synth.NumClasses)
    var i = 0L
    while (i < n) { perClass((docId(seed, i) % Synth.NumClasses).toInt) += 1; i += 1 }
    val viols = (1 until Synth.NumClasses).filter(perClass(_) > 0)
      .groupMapReduce(Synth.ruleIdPerClass(_))(c => perClass(c) * Synth.violationsPerClass(c))(_ + _)
    Planted(n, n - perClass(0), viols)
  }

  def write(spark: SparkSession, seed: Long, n: Long, dir: Path): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, Files).map(i => doc(seed, i)).write.parquet(dir.toString)
  }
}

/** `validate_clean`: the resumable ValidationJob end to end over a healthy
  * corpus, killed after half its batches (`maxBatches`) and resumed under
  * the same run id.
  */
final class ValidateWorkload(seed: Long, work: Path) extends Workload {
  val Batches = 4
  val RunId = "bench"
  val inputDocs = 200000L
  private val corpus = work.resolve("corpus")
  val inputDirs: Seq[Path] = Seq(corpus)
  private lazy val expect = MarcCorpus.planted(seed, inputDocs)
  private var lastBatches = (0, 0)

  def generate(spark: SparkSession): Unit = MarcCorpus.write(spark, seed, inputDocs, corpus)

  def sequence(spark: SparkSession, it: Iter, out: Path): Boolean => Unit = {
    def job(maxBatches: Int) = ValidationJob.run(spark, corpus.toString, out.toString, RunId,
      batches = Batches, maxBatches = maxBatches)
    val first = it.call("checks.job_first")(job(Batches / 2))
    val resume = it.call("checks.job_resume")(job(Int.MaxValue))
    deep => for (f <- first; r <- resume) {
      lastBatches = (f.batchesRun, r.batchesSkipped)
      it.check("checks.job_first", f.batchesRun == Batches / 2 && f.batchesSkipped == 0,
        s"first invocation $f")
      it.check("checks.job_resume", r.batchesSkipped == f.batchesRun && r.batchesRun == Batches - f.batchesRun,
        s"resumed invocation $r after $f")
      it.check("checks.job_resume", f.rows + r.rows == expect.docs, s"summary rows ${f.rows} + ${r.rows}")
      it.check("checks.job_resume", f.violations + r.violations == expect.totalViolations,
        s"summary violations ${f.violations} + ${r.violations} != ${expect.totalViolations}")
      if (deep) checkOutput(spark, it, "checks.job_resume", out)
    }
  }

  /** Verdict rows = input docs, none duplicated across the resume; failed
    * docs and violations per rule_id as planted.
    */
  private def checkOutput(spark: SparkSession, it: Iter, call: String, out: Path): Unit = {
    val v = spark.read.parquet(out.resolve("verdicts").toString)
      .agg(count(lit(1)), countDistinct(col("doc_id")),
        count(when(not(col("passed")), 1)), sum(col("n_violations")))
      .collect().head
    it.check(call, v.getLong(0) == expect.docs && v.getLong(1) == expect.docs,
      s"verdict rows ${v.getLong(0)} (distinct ${v.getLong(1)}) != ${expect.docs}")
    it.check(call, v.getLong(2) == expect.failedDocs, s"failed docs ${v.getLong(2)} != ${expect.failedDocs}")
    val byRule = spark.read.parquet(out.resolve("violations").toString)
      .groupBy(col("rule_id")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    it.check(call, byRule == expect.violations, s"violations per rule_id $byRule != ${expect.violations}")
  }

  def layers(spark: SparkSession, it: Iter, out: Path): Map[String, Double] = {
    val m = Map.newBuilder[String, Double]
    m += "checks.job_batches_run" -> lastBatches._1.toDouble
    m += "checks.job_batches_skipped" -> lastBatches._2.toDouble
    val snap = it.call("io.pin_snapshot")(
      ParquetSnapshotIO.pinSnapshot(spark, corpus.toString, out.resolve("manifests").toString))
    m += "io.pin_snapshot_s" -> it.seconds("io.pin_snapshot")
    snap.foreach { s =>
      it.check("io.pin_snapshot", s.files.size == MarcCorpus.Files, s"snapshot files ${s.files.size}")
      val done = it.call("io.ledger_completed")(Ledger.completedFiles(spark, out.toString, RunId, s.snapshotId))
      m += "io.ledger_completed_s" -> it.seconds("io.ledger_completed")
      done.foreach(d => it.check("io.ledger_completed", d.size == s.files.size, s"completed files ${d.size}"))

      val sketch = it.call("agg.kmv_merge")(Ledger.mergedDocIdSketch(spark, out.toString))
      m += "agg.kmv_merge_s" -> it.seconds("agg.kmv_merge")
      sketch.foreach { sk =>
        val est = sk.map(graft.agg.KmvBuf.deserialize(_).estimate).getOrElse(0.0)
        // KMV at k=1024 has ~3% standard error; 15% is ~5 sigma
        it.check("agg.kmv_merge", math.abs(est / expect.docs - 1) < 0.15, s"distinct estimate $est")
      }

      def docs = ParquetSnapshotIO.readSnapshot(spark, s, s.files)
      m += "io.scan_s" -> it.median3("io.scan") {
        val r = docs.select(col("doc_id"), col("spans.kind").as("k"), col("spans.text").as("t"))
          .agg(count(lit(1)), sum(size(col("k"))), sum(size(col("t")))).collect().head
        it.check("io.scan", r.getLong(0) == expect.docs, s"scanned ${r.getLong(0)} docs")
      }
      m += "checks.validate_pass_s" -> it.median3("checks.validate_pass") {
        val r = RowValidator.verdicts(docs)
          .agg(count(lit(1)), count(when(not(col("passed")), 1)), sum(col("n_violations")))
          .collect().head
        it.check("checks.validate_pass",
          r.getLong(0) == expect.docs && r.getLong(1) == expect.failedDocs &&
            r.getLong(2) == expect.totalViolations, s"verdict pass $r")
      }
    }
    val sample = (0L until ExprBench.SampleDocs).map(i => MarcCorpus.doc(seed, i))
    it.call("expr.microbench")(ExprBench.run(sample)).foreach { r =>
      it.check("expr.microbench", r.unsound == 0, s"${r.unsound} docs FastCheck proved clean have violations")
      m += "expr.fast_ns_per_doc" -> r.fastNs
      m += "expr.full_ns_per_doc" -> r.fullNs
      m += "expr.fast_hit_ratio" -> r.hitRatio
      m += "expr.fast_wasted_ratio" -> r.wastedRatio
    }
    m.result()
  }
}
