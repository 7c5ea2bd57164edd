package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition lineage + metrics ledger (the north-star resume contract):
  * one row per completed input file per run — files read, rows validated,
  * violations, elapsed ms, completion timestamp. A killed job replays only
  * files absent from the ledger for its (run_id, snapshot_id).
  *
  * Appended once per committed batch, after the batch's outputs are fully
  * written, so a ledger row is proof the batch's work is durable.
  */
object Ledger {

  /** KMV size for the per-batch distinct-doc_id sketch (std err ~3%). */
  val SketchK = 1024

  final case class Row(
      run_id: String,
      snapshot_id: String,
      batch_id: String,
      file: String,
      rows_validated: Long,
      violations: Long,
      docs_failed: Long,
      // wall time of the whole BATCH this file belonged to (files in a
      // batch process in one distributed job; per-file time is not a thing)
      batch_elapsed_ms: Long,
      // serialized KMV distinct-doc_id sketch of the whole BATCH (computed
      // in the same pass as the verdict write via observe(); stored on each
      // of the batch's file rows — KMV merge is idempotent, so the
      // duplication is harmless). Cross-RUN merge of these buffers gives
      // corpus-level distinct counts for a resumed 100 TB job, which no
      // per-run scalar can provide.
      docid_sketch: Array[Byte])

  def path(outDir: String): String = s"$outDir/ledger"

  def append(spark: SparkSession, outDir: String, rows: Seq[Row]): Unit = {
    import spark.implicits._
    rows.toDF()
      .withColumn("completed_at", current_timestamp())
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(path(outDir))
  }

  def read(spark: SparkSession, outDir: String): DataFrame = {
    val p = new Path(path(outDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // mergeSchema: a resumed ledger may mix files written before a column
    // existed (e.g. docid_sketch) with post-upgrade files; without it,
    // schema inference picks ONE footer arbitrarily — either crashing on
    // the missing column or silently reading old rows as if they never
    // existed. Merged, pre-upgrade rows surface as explicit nulls (see
    // [[mergedDocIdSketch]] / [[unsketchedRows]]).
    if (fs.exists(p)) spark.read.option("mergeSchema", "true").parquet(path(outDir))
    else spark.emptyDataset(spark.implicits.newProductEncoder[Row]).toDF()
      .withColumn("completed_at", current_timestamp())
  }

  /** Ledger rows with NO persisted distinct sketch (written by a
    * pre-sketch build): these batches are EXCLUDED from
    * [[mergedDocIdSketch]]'s estimate — a resumed pre-upgrade job should
    * check this is 0 before trusting the merged distinct count.
    */
  def unsketchedRows(spark: SparkSession, outDir: String): Long = {
    val rows = read(spark, outDir)
    if (rows.columns.contains("docid_sketch"))
      rows.where(col("docid_sketch").isNull).count()
    else rows.count()
  }

  /** Files already fully processed for (run_id, snapshot_id). A file's
    * rows are few (one per completed attempt), so `toSet` dedupes on the
    * driver; a `distinct` would cost an exchange and an extra job.
    */
  def completedFiles(spark: SparkSession, outDir: String, runId: String,
      snapshotId: String): Set[String] =
    read(spark, outDir)
      .where(col("run_id") === runId && col("snapshot_id") === snapshotId)
      .select("file")
      .collect().map(_.getString(0)).toSet

  /** Corpus-level distinct-doc_id sketch: the union of every persisted
    * per-batch sketch across ALL runs/batches in this ledger (optionally
    * filtered). Each batch's buffer appears once per file row; KMV merge is
    * idempotent so no dedup pass is needed. Returns None for an empty
    * ledger. Decode with [[graft.agg.Kmv.decode]] or
    * [[graft.agg.KmvBuf.deserialize]].
    */
  def mergedDocIdSketch(spark: SparkSession, outDir: String,
      runId: Option[String] = None): Option[Array[Byte]] = {
    val rows = read(spark, outDir)
    // an entirely pre-upgrade ledger has no sketch column at all
    if (!rows.columns.contains("docid_sketch")) return None
    val scoped = runId.map(r => rows.where(col("run_id") === r)).getOrElse(rows)
    val merged = scoped.agg(
      graft.agg.Kmv.mergeSketch(col("docid_sketch")).as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    // an all-null / empty ledger merges to the k=0 sentinel (4+4 zero bytes)
    if (graft.agg.KmvBuf.deserialize(merged).k == 0) None else Some(merged)
  }
}
