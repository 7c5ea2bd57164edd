package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Exact discrete percentiles of a numeric column, computed distributively.
  *
  * Definition (shared INTEGER rank math, so a SQL oracle reproduces it with
  * no floating-point ceil hazards — ceil(0.9 * n) in double can land one
  * rank high when 0.9*n is mathematically integral): percentile p (percent)
  * is the smallest v whose cumulative count reaches
  * ceilDiv(n * p, 100) = (n * p + 99) / 100.
  *
  * Distributed shape (the driver-side full-CDF collect this replaces is a
  * scale-killer on high-cardinality columns):
  *   1. per-value counts — one shuffle, map-side combined;
  *   2. range-repartition by value, so ascending partition id = ascending
  *      value range (RangePartitioner contract);
  *   3. per-partition subtotals -> driver (ONE row per partition — bounded
  *      by the partition count, never by value cardinality) -> prefix
  *      offsets broadcast back as a literal array;
  *   4. per-partition prefix sum (window PARTITIONED by pid — parallel,
  *      never a single-partition global window) + offset = global
  *      cumulative count;
  *   5. each requested rank reduces to one min-aggregate
  *      (min(v) where cum >= rank); only the single result row is
  *      collected.
  */
object ExactQuantile {

  /** (n * p + 99) / 100 without FP: the rank the p-th percentile must reach. */
  def rankOf(n: Long, percent: Int): Long = (n * percent + 99L) / 100L

  /** One row: (n_rows, exact_p<p1>, exact_p<p2>, ...). Null values are
    * excluded; an empty input yields n_rows = 0 with null percentiles.
    */
  def percentiles(df: DataFrame, value: Column, percents: Seq[Int]): DataFrame =
    percentilesWithCuts(df, value, percents, Nil)

  /** [[percentiles]] plus, per cut value q (integral `value` columns only),
    * the exact number of rows <= q (`le_<i>`) and < q (`lt_<i>`) — the
    * inputs of a quantile-sketch rank audit. The cut counts ride the SAME
    * final aggregation pass as the percentile extraction, so auditing a
    * sketch costs no extra scan of the input (r6: the caller previously
    * re-scanned the full value column for these counts).
    */
  def percentilesWithCuts(df: DataFrame, value: Column, percents: Seq[Int],
      cuts: Seq[Long]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1, 100]: $percents")
    val spark = df.sparkSession
    val valueType = df.select(value.as("v")).schema.head.dataType
    // cuts are longs: against a fractional column the comparison would
    // silently coerce, so only integral value columns accept cuts
    require(cuts.isEmpty || Seq(ByteType, ShortType, IntegerType, LongType).contains(valueType),
      s"cuts need an integral value column, got $valueType")
    val schema = StructType(
      StructField("n_rows", LongType, nullable = false) +:
        (percents.map(p => StructField(s"exact_p$p", valueType, nullable = true)) ++
          cuts.indices.flatMap(i => Seq(
            StructField(s"le_$i", LongType, nullable = false),
            StructField(s"lt_$i", LongType, nullable = false)))))
    def oneRow(vals: Seq[Any]): DataFrame =
      spark.createDataFrame(java.util.List.of(Row.fromSeq(vals)), schema)

    val nParts = spark.sessionState.conf.numShufflePartitions
    // the per-value aggregation is persisted BEFORE repartitionByRange:
    // RangePartitioner samples its child with an extra pass, which would
    // otherwise recompute the whole aggregation (a full input scan) once
    // for the sample and again for the real exchange
    val base = df.where(value.isNotNull)
      .groupBy(value.as("v")).agg(count(lit(1)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = base
      .repartitionByRange(nParts, col("v"))
      .withColumn("pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // <= nParts rows: the only data that ever reaches the driver
      val subtotals = counts.groupBy(col("pid")).agg(sum(col("c")).as("t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val n = subtotals.values.sum
      if (n == 0L)
        return oneRow(0L +: (percents.map(_ => null) ++
          cuts.flatMap(_ => Seq(0L, 0L))))
      val maxPid = subtotals.keys.max
      // offsets(pid) = rows in all partitions BEFORE pid
      val offsets = (0 to maxPid).scanLeft(0L)(
        (acc, pid) => acc + subtotals.getOrElse(pid, 0L)).dropRight(1)
      val w = Window.partitionBy(col("pid")).orderBy(col("v"))
      val cum = counts.withColumn("cum",
        sum(col("c")).over(w) + element_at(typedLit(offsets), col("pid") + 1))
      val aggs = percents.map(p =>
        min(when(col("cum") >= lit(rankOf(n, p)), col("v"))).as(s"exact_p$p")) ++
        cuts.zipWithIndex.flatMap { case (q, i) => Seq(
          coalesce(sum(when(col("v") <= lit(q), col("c"))), lit(0L)).as(s"le_$i"),
          coalesce(sum(when(col("v") < lit(q), col("c"))), lit(0L)).as(s"lt_$i"))
        }
      val res = cum.agg(aggs.head, aggs.tail: _*).collect().head
      oneRow(n +: (0 until (percents.size + 2 * cuts.size)).map(res.get))
    } finally { counts.unpersist(); base.unpersist() }
  }
}
