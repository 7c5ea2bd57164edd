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
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: RunValidation <inputDir> <outDir> <runId> [batches] [maxBatches]")
    val Array(inputDir, outDir, runId) = args.take(3)
    val batches = if (args.length > 3) args(3).toInt else 8
    val maxBatches = if (args.length > 4) args(4).toInt else Int.MaxValue
    val spark = Session.create("graft-validate")
    val s = ValidationJob.run(spark, inputDir, outDir, runId,
      batches = batches, maxBatches = maxBatches)
    println(s"""{"run_id":"${s.runId}","snapshot_id":"${s.snapshotId}",""" +
      s""""batches_run":${s.batchesRun},"batches_skipped":${s.batchesSkipped},""" +
      s""""rows":${s.rows},"violations":${s.violations}}""")
    spark.stop()
  }
}
