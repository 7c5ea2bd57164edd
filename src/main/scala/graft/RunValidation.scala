package graft

import graft.checks.ValidationJob

/** spark-submit entry point for the resumable validation job:
  *
  *   RunValidation <inputDir> <outDir> <runId> [batches] [maxBatches]
  *
  * Re-running the same (outDir, runId) resumes: completed input files (per
  * the ledger) are skipped. `maxBatches` bounds work per invocation (and
  * doubles as the kill-simulation hook).
  */
object RunValidation {
  val Usage = "usage: RunValidation <inputDir> <outDir> <runId> [batches] [maxBatches]"

  final case class Args(inputDir: String, outDir: String, runId: String,
      batches: Int, maxBatches: Int)

  /** None on a wrong argument count or a non-integer batch argument. */
  def parse(args: Array[String]): Option[Args] = args match {
    case Array(inputDir, outDir, runId, rest @ _*) if rest.size <= 2 =>
      val nums = rest.flatMap(_.toIntOption)
      if (nums.size < rest.size) None
      else Some(Args(inputDir, outDir, runId, nums.lift(0).getOrElse(8),
        nums.lift(1).getOrElse(Int.MaxValue)))
    case _ => None
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val spark = Session.create("graft-validate")
    val s = ValidationJob.run(spark, a.inputDir, a.outDir, a.runId,
      batches = a.batches, maxBatches = a.maxBatches)
    println(s"""{"run_id":"${s.runId}","snapshot_id":"${s.snapshotId}",""" +
      s""""batches_run":${s.batchesRun},"batches_skipped":${s.batchesSkipped},""" +
      s""""rows":${s.rows},"violations":${s.violations}}""")
    spark.stop()
  }
}
