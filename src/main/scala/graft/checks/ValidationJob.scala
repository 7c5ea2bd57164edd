package graft.checks

import org.apache.spark.sql.{Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.agg.{Kmv, Tally}
import graft.io.{Ledger, ParquetSnapshotIO, Snapshot}
import graft.rules.RuleSet

/** The resumable end-to-end validation job (north-star: "runs resume from
  * snapshot-pinned checkpoints with a per-partition lineage + metrics ledger
  * so a killed job replays only unfinished partitions").
  *
  * Unit of recovery = one batch of input files (batch count configurable;
  * one file per batch = finest replay granularity). Each batch is atomic:
  * verdicts + violations are written before its ledger rows, so a ledger
  * row certifies durable output. Within a batch, all files process in one
  * distributed pass — full cluster parallelism, no per-file loop.
  *
  * One scan-and-validate pass per batch, three Spark jobs:
  *  1. the verdict write scans and validates the batch once, caching the
  *     narrow `(doc_id, passed, violations, src_file)` rows; the batch's
  *     distinct-doc_id sketch and its per-file (rows, violations, failed)
  *     tallies ride the same pass as observed metrics;
  *  2. the violations write explodes the cached failing rows — no second
  *     parquet scan and no second run of the validate kernel;
  *  3. the ledger append.
  * The docs schema is inferred once per [[run]], from the pinned snapshot.
  */
object ValidationJob {

  final case class BatchResult(batchKey: String, files: Seq[String], rows: Long,
      violations: Long, docsFailed: Long, elapsedMs: Long)

  final case class RunSummary(runId: String, snapshotId: String,
      batchesRun: Int, batchesSkipped: Int, rows: Long, violations: Long)

  /** Run (or resume) validation over a parquet docs directory.
    *
    * Crash atomicity: batch membership is a pure function of the pinned
    * snapshot (sorted file list, fixed group count), so a replayed batch
    * always targets the SAME deterministic batch directory, and outputs are
    * written with Overwrite — a crash after the data writes but before the
    * ledger append replays the batch into the same directory, clobbering
    * the partial attempt instead of appending duplicates or stranding
    * orphan directories. Resume therefore requires the same `batches` value
    * as the original run (it is part of the recovery-unit definition).
    *
    * @param batches    number of file batches (recovery units), >= 1
    * @param maxBatches stop after this many batches, >= 0 (test hook
    *                   simulating a kill between recovery units)
    */
  def run(spark: SparkSession, inputDir: String, outDir: String, runId: String,
      rules: RuleSet = RuleSet.default, batches: Int = 8,
      maxBatches: Int = Int.MaxValue): RunSummary = {
    require(batches >= 1, s"batches must be >= 1, got $batches")
    require(maxBatches >= 0, s"maxBatches must be >= 0, got $maxBatches")
    val snap: Snapshot = ParquetSnapshotIO.pinSnapshot(spark, inputDir, s"$outDir/manifests")
    val done = Ledger.completedFiles(spark, outDir, runId, snap.snapshotId)
    // deterministic batching over the FULL snapshot, then skip whole
    // finished batches — never regroup the remainder (see scaladoc)
    val groups = snap.files.sorted
      .grouped(math.ceil(snap.files.size.toDouble / batches).toInt).toSeq
    val todoGroups = groups.filterNot(_.forall(done))
    // inferred once, and only if a batch runs
    lazy val schema = ParquetSnapshotIO.schema(spark, snap)

    var rows = 0L; var viols = 0L; var ran = 0
    todoGroups.take(maxBatches).foreach { files =>
      val r = runBatch(spark, snap, schema, files, outDir, runId, rules)
      rows += r.rows; viols += r.violations; ran += 1
    }
    RunSummary(runId, snap.snapshotId, ran,
      batchesSkipped = groups.size - todoGroups.size, rows, viols)
  }

  private def runBatch(spark: SparkSession, snap: Snapshot, schema: StructType,
      files: Seq[String], outDir: String, runId: String, rules: RuleSet): BatchResult = {
    val t0 = System.nanoTime()
    // batch key derives from the (snapshot-sorted) file set: stable across
    // attempts, so a replayed batch overwrites its own prior partial output
    val batchId = java.lang.Integer.toUnsignedString(
      scala.util.hashing.MurmurHash3.orderedHash(files), 16)
    val validated = RowValidator
      .withViolations(ParquetSnapshotIO.readSnapshot(spark, snap, files, Some(schema)), rules)
      .select(col("doc_id"), col("passed"), col("violations"),
        input_file_name().as("src_file"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Overwrite (not Append): a replayed batch must clobber a crashed
    // attempt's partial files in this deterministic directory.
    val obs = Observation()
    val perFile = try {
      validated
        .observe(obs,
          Kmv.sketch(col("doc_id"), Ledger.SketchK).as("docid_sketch"),
          Tally.byKey(col("src_file"), size(col("violations")), not(col("passed")))
            .as("per_file"))
        .select(col("doc_id"), col("passed"),
          size(col("violations")).as("n_violations"), col("src_file"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/verdicts/run_id=$runId/batch=$batchId")
      // reads the cached rows: the where cannot re-run the kernel
      validated.where(not(col("passed")))
        .select(col("doc_id"), col("src_file"), explode(col("violations")).as("v"))
        .select(col("doc_id"), col("src_file"), col("v.*"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/violations/run_id=$runId/batch=$batchId")
      obs.get("per_file").asInstanceOf[scala.collection.Seq[Row]]
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    } finally { validated.unpersist(); () }
    val batchSketch = obs.get("docid_sketch").asInstanceOf[Array[Byte]]
    val elapsed = (System.nanoTime() - t0) / 1000000L

    // ledger rows LAST: their presence certifies the batch's durable output.
    // files yielding zero rows still get a row (rows=0) so they are not replayed.
    // input_file_name() yields URI form (file:///...) while the snapshot holds
    // FileSystem form (file:/...) — normalize both to the raw path.
    def norm(f: String): String = new org.apache.hadoop.fs.Path(f).toUri.getPath
    val byName = perFile.map { case (f, n, v, d) => norm(f) -> ((n, v, d)) }.toMap
    val ledgerRows = files.map { f =>
      val (n, v, d) = byName.getOrElse(norm(f), (0L, 0L, 0L))
      Ledger.Row(runId, snap.snapshotId, batchId, f, n, v, d, elapsed, batchSketch)
    }
    Ledger.append(spark, outDir, ledgerRows)
    BatchResult(batchId, files, perFile.map(_._2).sum, perFile.map(_._3).sum,
      perFile.map(_._4).sum, elapsed)
  }
}
