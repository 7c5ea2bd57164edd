package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.agg.VectorAvgAgg
import graft.expr.SketchExprs.cosineSim

/** IVF (inverted-file) approximate-nearest-neighbor index: spherical
  * k-means coarse quantizer + per-cluster inverted lists, the scale path the
  * brute-force [[Similarity.topKCosine]] baseline graduates to.
  *
  * Scale shape (the reason IVF beats both brute force and LSH at 100 TB for
  * repeated queries):
  *   - TRAIN: each Lloyd iteration is one scan + one aggregation whose
  *     map-side-combined state is k × dims doubles per partition
  *     ([[graft.agg.VectorAvgAgg]]) — never a N × dims shuffle. Train on a
  *     sample at extreme scale; assignment quality degrades gracefully.
  *   - ASSIGN: map-only (argmax of k dot products per row, one codegen'd
  *     expression); write the index `partitionBy("cluster")` so the cluster
  *     id becomes a *partition column*.
  *   - SEARCH: probing nProbe of k clusters turns into partition pruning at
  *     the scan — the query reads ~nProbe/k of the bytes, no shuffle, then
  *     exact re-rank of the candidates.
  *
  * Everything is deterministic given the input (seeds are the k rows with
  * the smallest xxhash64(id); Lloyd mean order-sensitivity only perturbs
  * float low bits, and full-probe search is clustering-independent, which is
  * what the DuckDB oracle pins).
  */
object Ivf {

  /** Coarse quantizer: L2-normalized centroids (spherical k-means). */
  object Model {
    /** Deterministic quantizer-free model: centroid j is the axis vector
      * e_j. Assignment degenerates to argmax of the first k vector
      * components — recomputable in plain SQL, which is what lets the
      * driver's DuckDB oracle pin the PARTIAL-probe search path end-to-end
      * (`ann_ivf_pruned`): with a trained model the probed subset depends
      * on k-means internals no oracle can re-derive. Index mechanics
      * (assign / partitioned write / pruned probe / re-rank) are identical
      * to a trained model's.
      */
    def axis(k: Int, dims: Int): Model = {
      require(k >= 1 && k <= dims)
      Model(Array.tabulate(k)(j => Array.tabulate(dims)(d => if (d == j) 1f else 0f)))
    }
  }

  final case class Model(centroids: Array[Array[Float]]) {
    def k: Int = centroids.length
    def dims: Int = centroids.head.length

    /** Clusters ranked by cosine to `q`, best first (driver-side, k is small). */
    def rankClusters(q: Seq[Float]): Seq[Int] = {
      val qn = normalize(q.toArray)
      centroids.zipWithIndex
        .map { case (c, i) => (dot(c, qn), i) }
        .sortBy { case (d, i) => (-d, i) }
        .map(_._2).toSeq
    }
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length && i < b.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(dot(v, v))
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  /** Argmax-cosine cluster id for `vec` against the centroid matrix — ties
    * break to the lower cluster id. One codegen'd kernel
    * ([[graft.expr.ArgmaxCosine]]: k × dims fused multiply-adds per row),
    * bit-identical to the interpreted
    * `array_min(scoredClusters(...)).cluster` formulation it replaces —
    * [[probeClusters]] still uses [[scoredClusters]], and the shared
    * ranking contract (cosine DESC, ties to the lower cluster id) is
    * pinned by IvfSpec against both formulations.
    */
  def clusterOf(vec: Column, model: Model): Column =
    graft.expr.SketchExprs.argmaxCosine(vec, model.centroids)

  /** (negated-cosine, cluster-id) structs for `vec` against the broadcast-
    * literal centroid matrix — the ONE ranking contract (cosine DESC, ties
    * to the lower cluster id) that assignment ([[clusterOf]]) and probing
    * ([[probeClusters]]) must share: if these ever diverge, a partial probe
    * can miss the cluster a vector was assigned to and "full probe is
    * exact" breaks.
    */
  private def scoredClusters(vec: Column, model: Model): Column = {
    val cm = typedLit(model.centroids.map(_.toSeq).toSeq)
    transform(sequence(lit(0), lit(model.k - 1)), j =>
      struct(
        (-cosineSim(vec, element_at(cm, j + 1))).as("negcos"),
        j.cast("int").as("cluster")))
  }

  /** Train the coarse quantizer: deterministic seeding (k smallest
    * xxhash64(id)), then `iters` Lloyd rounds of assign -> mean
    * ([[VectorAvgAgg]]: one k×dims-state aggregation per round). Empty
    * clusters keep their previous centroid.
    */
  def train(df: DataFrame, id: Column, vec: Column, k: Int, iters: Int = 3): Model = {
    require(k > 0 && iters >= 0)
    // train is inherently iterative (seed job + one aggregation per Lloyd
    // round): persist the projected training columns so each round reads
    // the cached (id-hash, vector) pairs instead of rescanning the source
    // (at extreme scale the caller trains on a sample, which this caches)
    val data = df.select(vec.as("v"), xxhash64(id).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = data
        .orderBy(col("h"), col("v"))
        .limit(k)
        .select(col("v"))
        .collect()
        .map(r => normalize(r.getSeq[Float](0).toArray))
      require(seeds.length == k,
        s"ivf: need >= $k training vectors, got ${seeds.length}")
      var model = Model(seeds)
      for (_ <- 0 until iters) {
        val means = data
          .groupBy(clusterOf(col("v"), model).as("cluster"))
          .agg(VectorAvgAgg.vectorAvg(col("v")).as("m"))
          .select(col("cluster"), col("m.avg"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
          .toMap
        model = Model(Array.tabulate(model.k)(c =>
          means.get(c).map(normalize).getOrElse(model.centroids(c))))
      }
      model
    } finally data.unpersist()
  }

  /** Inverted lists: (id, v, cluster). Persist with
    * `.write.partitionBy("cluster")` so probes prune partitions at the scan.
    */
  def assign(df: DataFrame, id: Column, vec: Column, model: Model): DataFrame =
    df.select(id.as("id"), vec.as("v"))
      .withColumn("cluster", clusterOf(col("v"), model))

  /** Persist the inverted lists partitioned by cluster id: the cluster
    * becomes a PARTITION COLUMN, so [[search]]'s probe filter prunes whole
    * directories at the scan — a probe of nProbe/k clusters reads ~nProbe/k
    * of the index bytes (asserted via scan numFiles in IvfSpec).
    *
    * The rows are REBALANCED on `cluster` before the write (guide §6,
    * small files): without it every upstream task writes a sliver into
    * every cluster directory — up to tasks × k files of a few KB each,
    * paid again at every probe as per-file open cost. A rebalance hint,
    * NOT `repartition(col)`: a plain hash repartition funnels each cluster
    * into exactly one task (AQE never splits a repartition-by-column
    * partition — skew splitting applies to rebalance origins only), so a
    * hot cluster would serialize the write into one giant task/file;
    * AQE both merges sliver partitions and splits oversized ones under
    * the rebalance origin. The hint is a no-op without AQE, so an AQE-off
    * session is refused rather than silently writing the sliver layout.
    */
  def writeIndex(index: DataFrame, dir: String): Unit = {
    require(index.sparkSession.conf.get("spark.sql.adaptive.enabled").toBoolean,
      "Ivf.writeIndex needs spark.sql.adaptive.enabled=true: its rebalance " +
        "hint is a no-op without AQE")
    index.hint("rebalance", col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(dir)
  }

  /** Read a partitioned index written by [[writeIndex]]. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Top-k by cosine probing the `nProbe` clusters nearest the query:
    * cluster filter (partition pruning on a partitioned index) -> exact
    * re-rank. nProbe = model.k degenerates to exact brute force.
    */
  def search(index: DataFrame, model: Model, query: Seq[Float], topK: Int,
      nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= model.k)
    val probes = model.rankClusters(query).take(nProbe)
    index
      .where(col("cluster").isin(probes.map(Int.box): _*))
      .select(col("id"), cosineSim(col("v"), typedLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(topK)
  }

  /** Per-query ranked probe clusters as a COLUMN — the columnar face of
    * [[Model.rankClusters]] (same ordering: cosine to each centroid DESC,
    * ties to the lower cluster id; cosine is scale-invariant so skipping
    * the query normalization changes nothing). k × dims multiplies per
    * query row, map-only.
    */
  def probeClusters(vec: Column, model: Model, nProbe: Int): Column = {
    require(nProbe >= 1 && nProbe <= model.k)
    slice(transform(array_sort(scoredClusters(vec, model)),
      s => s.getField("cluster")), 1, nProbe)
  }

  /** Batch search: a TABLE of queries against the inverted lists in ONE job
    * (replacing the collect-the-vector, one-job-per-query shape — a driver
    * bottleneck at 10^4+ queries). Each query fans out to its `nProbe`
    * ranked clusters ([[probeClusters]], map-only); the (cluster, qid, qv)
    * rows are broadcast, so the index side never shuffles — on a
    * partitionBy("cluster") on-disk index the broadcast join's cluster keys
    * drive dynamic partition pruning at the scan. Per-query top-k is the
    * bounded [[graft.agg.TopKAgg]] (O(k) state, map-side combine: the
    * shuffle carries <= k rows per task per query). nProbe = model.k is
    * exact by construction — the oracle-pinned configuration.
    *
    * @return (qid, rank, id, cosine), rank 1..topK per query.
    */
  def searchBatch(index: DataFrame, model: Model, queries: DataFrame,
      qid: Column, qvec: Column, topK: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= model.k)
    val q = queries.select(qid.as("qid"), qvec.as("qv"))
      .withColumn("cluster", explode(probeClusters(col("qv"), model, nProbe)))
    val scored = index.join(broadcast(q), Seq("cluster"))
      .select(col("qid"), col("id"), cosineSim(col("v"), col("qv")).as("cosine"))
    Similarity.rankTopK(scored, topK)
  }
}
