package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** An immutable view of a table: id = 64-bit hash of the sorted file list. */
final case class Snapshot(snapshotId: String, inputDir: String, files: Vector[String])

/** Snapshot-pinned table reads (SURVEY.md §2 Part B "Scans") over a
  * deterministic parquet layout + a JSON snapshot manifest, the contract of
  * an Iceberg snapshot: a snapshot is the sorted file list captured once,
  * and every (re)read of that snapshot sees exactly those files —
  * late-arriving files cannot leak into a running or resumed job.
  */
object ParquetSnapshotIO {

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** List data files, compute the snapshot id, persist the manifest (idempotent:
    * re-pinning the same file list yields the same snapshot id and manifest).
    */
  def pinSnapshot(spark: SparkSession, inputDir: String,
      manifestDir: String): Snapshot = {
    val dfs = fs(spark, inputDir)
    val files = dfs.listStatus(new Path(inputDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted.toVector
    require(files.nonEmpty, s"no parquet files under $inputDir")
    val id = java.lang.Long.toUnsignedString(
      files.map(_.hashCode.toLong).reduce((a, b) => a * 1000003L + b))
    val snap = Snapshot(id, inputDir, files)
    val mPath = new Path(manifestDir, s"snapshot-$id.json")
    val mfs = fs(spark, manifestDir)
    if (!mfs.exists(mPath)) {
      val json = s"""{"snapshot_id": "$id", "input_dir": "${inputDir}", "files": [""" +
        files.map(f => "\"" + f + "\"").mkString(", ") + "]}"
      val out = mfs.create(mPath, true)
      out.write(json.getBytes(StandardCharsets.UTF_8)); out.close()
    }
    snap
  }

  /** The snapshot's schema, from its first file's footer (without
    * `mergeSchema`, Spark infers a multi-file read's schema from one footer
    * too). Inference is a Spark job, so a reader of many subsets infers once
    * and passes the result to [[readSnapshot]].
    */
  def schema(spark: SparkSession, snapshot: Snapshot): StructType =
    spark.read.parquet(snapshot.files.head).schema

  /** Read a subset of the snapshot's files (resume path: only unfinished
    * ones), inferring the schema from them unless one is given.
    */
  def readSnapshot(spark: SparkSession, snapshot: Snapshot,
      files: Seq[String], schema: Option[StructType] = None): DataFrame = {
    require(files.forall(snapshot.files.contains),
      "attempted to read files outside the pinned snapshot")
    schema.fold(spark.read)(spark.read.schema).parquet(files: _*)
  }
}
