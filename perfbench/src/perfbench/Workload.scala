package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** One workload: seeded inputs, the timed call sequence, and the
  * single-layer measurements the traced run adds.
  */
trait Workload {
  def inputDocs: Long
  def inputDirs: Seq[Path]
  def generate(spark: SparkSession): Unit
  /** Runs the timed call sequence, writing under `out`; returns the output
    * checks, which run after the sequence's clock has stopped. `deep`
    * asks for the checks that re-read whole output tables as well.
    */
  def sequence(spark: SparkSession, it: Iter, out: Path): Boolean => Unit
  /** Traced run only: layer metrics measured outside the sequence, given
    * the output of the last sequence in `out`.
    */
  def layers(spark: SparkSession, it: Iter, out: Path): Map[String, Double]
}
