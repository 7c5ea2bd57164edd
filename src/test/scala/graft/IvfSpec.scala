package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.VectorAvgAgg
import graft.ops.{Ivf, Similarity}

/** IVF ANN: quantizer training, inverted-list assignment, probe search, and
  * the partition-pruning property that makes probing cheap at scale.
  */
class IvfSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** 4 well-separated clusters in 16 dims: center c has 1.0 at dim 4c, plus
    * small deterministic per-vector noise.
    */
  private lazy val clustered = {
    val rows = for (i <- 0L until 400L) yield {
      val c = (i % 4).toInt
      val v = Array.tabulate(16) { d =>
        val noise = (((i * 31 + d * 7) % 19).toInt - 9) / 100f
        (if (d == c * 4) 1f else 0f) + noise
      }
      (i, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("vectorAvg: partition-independent mean with nulls and empty groups") {
    val df = Seq(
      (0, Some(Seq(1f, 2f, 3f))),
      (0, Some(Seq(3f, 4f, 5f))),
      (0, None),
      (1, Some(Seq(10f, 0f, -2f)))).toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) = d.groupBy($"g")
      .agg(VectorAvgAgg.vectorAvg($"v").as("m"))
      .select($"g", $"m.n", $"m.avg").orderBy($"g")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2)))
    val a = run(df)
    val b = run(df.repartition(7))
    assert(a.toSeq == b.toSeq)
    assert(a(0) == ((0, 2L, Seq(2f, 3f, 4f)))) // null row not counted
    assert(a(1) == ((1, 1L, Seq(10f, 0f, -2f))))
    val empty = df.where($"g" === 99)
      .agg(VectorAvgAgg.vectorAvg($"v").as("m")).select($"m.n", $"m.avg").collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("ivf: training recovers well-separated clusters; nProbe=1 gets the right list") {
    val model = Ivf.train(clustered, $"vec_id", $"embedding", k = 4, iters = 3)
    assert(model.k == 4 && model.dims == 16)
    val index = Ivf.assign(clustered, $"vec_id", $"embedding", model)
    // every true cluster maps to exactly one quantizer cell
    val purity = index.withColumn("truth", $"id" % 4)
      .groupBy($"truth").agg(countDistinct($"cluster").as("cells"))
      .collect().map(_.getLong(1))
    assert(purity.forall(_ == 1), s"cluster split across cells: ${purity.toSeq}")
    // nProbe=1 search returns only same-cluster ids and matches brute force
    val q = clustered.where($"vec_id" === 0).select($"embedding")
      .collect().head.getSeq[Float](0)
    val got = Ivf.search(index, model, q, topK = 10, nProbe = 1)
      .collect().map(_.getLong(0))
    assert(got.length == 10 && got.forall(_ % 4 == 0))
    val exact = Similarity.topKCosine(clustered, $"vec_id", $"embedding", q, 10)
      .collect().map(_.getLong(0))
    assert(got.toSeq == exact.toSeq) // cross-cluster cosines are far below intra
  }

  test("ivf: full probe equals brute force on real embeddings (oracle shape)") {
    val q = emb.where($"vec_id" === 0).select($"embedding").collect()
      .head.getSeq[Float](0)
    val model = Ivf.train(emb.where($"vec_id" =!= 0), $"vec_id", $"embedding", k = 8, iters = 2)
    val index = Ivf.assign(emb.where($"vec_id" =!= 0), $"vec_id", $"embedding", model)
    val ivf = Ivf.search(index, model, q, topK = 10, nProbe = 8)
      .collect().map(_.getLong(0))
    val exact = Similarity.topKCosine(
      emb.where($"vec_id" =!= 0), $"vec_id", $"embedding", q, 10)
      .collect().map(_.getLong(0))
    assert(ivf.toSeq == exact.toSeq)
  }

  test("ivf: partial probe keeps usable recall on real embeddings") {
    val q = emb.where($"vec_id" === 0).select($"embedding").collect()
      .head.getSeq[Float](0)
    val rest = emb.where($"vec_id" =!= 0)
    val model = Ivf.train(rest, $"vec_id", $"embedding", k = 8, iters = 2)
    val index = Ivf.assign(rest, $"vec_id", $"embedding", model)
    val exact = Similarity.topKCosine(rest, $"vec_id", $"embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    // measured curve on this table (near-random vectors, the hard case):
    // nProbe 1..8 -> recall 0,2,4,6,7,9,10,10; assert with margin for float
    // low-bit drift in training
    val approx = Ivf.search(index, model, q, topK = 10, nProbe = 5)
      .collect().map(_.getLong(0)).toSet
    assert(approx.intersect(exact).size >= 5, s"recall too low: $approx vs $exact")
  }

  test("clusterOf argmax kernel is value-identical to the HOF struct-min formulation") {
    // the r6 optimization replaced array_min(transform(...struct(-cosine,
    // j)...)) with the fused ArgmaxCosine kernel; this pins the two
    // formulations row-for-row on both a trained model (double-noise
    // centroids) and the axis model over the real float embeddings
    def hofClusterOf(vec: org.apache.spark.sql.Column, model: Ivf.Model) = {
      val cm = typedLit(model.centroids.map(_.toSeq).toSeq)
      array_min(transform(sequence(lit(0), lit(model.k - 1)), j =>
        struct(
          (-graft.expr.SketchExprs.cosineSim(vec, element_at(cm, j + 1))).as("negcos"),
          j.cast("int").as("cluster")))).getField("cluster")
    }
    val m1 = Ivf.train(clustered, $"vec_id", $"embedding", k = 4, iters = 2)
    assert(clustered.where(
      Ivf.clusterOf($"embedding", m1) =!= hofClusterOf($"embedding", m1)).count() == 0)
    val m2 = Ivf.Model.axis(8, 64)
    assert(emb.where(
      Ivf.clusterOf($"embedding", m2) =!= hofClusterOf($"embedding", m2)).count() == 0)
    // NaN edges: a NaN vector (every cosine NaN) and a NaN CENTROID (one
    // cosine NaN per row) must rank exactly like the struct-min form —
    // NaN negcos last, all-NaN tie to cluster 0 (review finding: a
    // cos-maximizing comparison selected NaN FIRST)
    val nanVec = Seq((0L, Seq.fill(16)(Float.NaN)),
      (1L, Array.tabulate(16)(d => if (d == 7) Float.NaN else 1f).toSeq),
      (2L, Array.tabulate(16)(_.toFloat).toSeq)).toDF("vec_id", "embedding")
    val m3 = Ivf.Model.axis(4, 16)
    assert(nanVec.where(not(
      Ivf.clusterOf($"embedding", m3) <=> hofClusterOf($"embedding", m3))).count() == 0)
    val nanCentroid = Ivf.Model(Array(
      Array.tabulate(16)(d => if (d == 3) Float.NaN else 0.5f),
      Array.tabulate(16)(_ => 1f),
      Array.tabulate(16)(d => if (d < 8) 1f else -1f)))
    assert(nanVec.where(not(
      Ivf.clusterOf($"embedding", nanCentroid) <=>
        hofClusterOf($"embedding", nanCentroid))).count() == 0)
    // and the specific poison case: a finite row must NOT land on the NaN
    // centroid (cluster 0 here)
    assert(nanVec.where($"vec_id" === 2L)
      .select(Ivf.clusterOf($"embedding", nanCentroid)).head().getInt(0) != 0)
  }

  test("ivf: a partitioned index prunes non-probed clusters at the scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val model = Ivf.train(clustered, $"vec_id", $"embedding", k = 4, iters = 2)
    val dir = Files.createTempDirectory("graft-ivf").toString
    Ivf.writeIndex(Ivf.assign(clustered, $"vec_id", $"embedding", model), dir)
    val index = Ivf.readIndex(spark, dir)
    val q = clustered.where($"vec_id" === 1).select($"embedding")
      .collect().head.getSeq[Float](0)
    val search = Ivf.search(index, model, q, topK = 5, nProbe = 1)
    val scanNode = search.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scanNode.toString.contains("PartitionFilters") &&
      scanNode.toString.contains("cluster"),
      s"no partition pruning in scan:\n$scanNode")
    // and the pruned search still returns same-cluster results
    assert(search.collect().map(_.getLong(0)).forall(_ % 4 == 1))
    // the hard evidence: the scan's file-read metric equals the file count
    // of the ONE probed cluster directory, not the whole index
    val fs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val files = try {
      import scala.jdk.CollectionConverters._
      fs.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toVector
    } finally fs.close()
    val probedCluster = model.rankClusters(q).head
    val probedFiles = files.count(_.contains(s"cluster=$probedCluster"))
    assert(probedFiles > 0 && files.size > probedFiles,
      s"degenerate layout: $probedFiles of ${files.size} files probed")
    val numFilesRead = scanNode.metrics("numFiles").value
    assert(numFilesRead == probedFiles,
      s"scan read $numFilesRead files; probed cluster has $probedFiles " +
        s"of ${files.size} total — pruning did not happen")
  }

  test("ivf: writeIndex refuses an AQE-off session (its rebalance hint needs AQE)") {
    val model = Ivf.Model.axis(4, 16)
    val dir = Files.createTempDirectory("graft-ivf-noaqe").resolve("index").toString
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = intercept[IllegalArgumentException](
        Ivf.writeIndex(Ivf.assign(clustered, $"vec_id", $"embedding", model), dir))
      assert(e.getMessage.contains("spark.sql.adaptive.enabled"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(!Files.exists(java.nio.file.Paths.get(dir)), "nothing may be written")
  }
}
