package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.StatsAgg
import graft.checks.{Drift, ExactQuantile, Referential, Uniqueness}
import graft.io.ParquetSnapshotIO
import graft.ops.Dedup

final case class AuditRow(row_id: Long, doc_id: String, text: String, media_ref: String)
final case class Asset(asset_id: String)

/** The `(doc_id, text, media_ref)` text corpus of `corpus_audit`, keyed for
  * the dedup operators by a unique long `row_id`, with what the generator
  * planted in it:
  *   - near-dup twins: a base doc and a copy with one word replaced
  *     (word 3-gram Jaccard >= 35/41, above the 0.8 threshold);
  *   - one farm of near-copies of a 60-word template, each copy with one
  *     word replaced, so every farm pair has Jaccard >= 52/64 and the farm
  *     is one high-degree component;
  *   - hot duplicated doc_ids, dangling media refs, null media refs;
  *   - a baseline whose topic mix and doc lengths have drifted.
  * Base docs draw 40-80 words from an 8000-word vocabulary, so no other
  * pair comes near the threshold.
  */
final class AuditCorpus(seed: Long) {
  val BaseDocs = 1200; val Twins = 60; val Farm = 150
  val HotKeys = 4; val HotRows = 30; val Dangling = 60; val Assets = 1000
  val BaselineDocs = 1000
  private val Topics = Array("news", "sport", "science", "art", "travel", "food", "law", "tech")
  private val Vocab = Array.tabulate(8000)(k => "w" + java.lang.Long.toString(graft.expr.Mix64.mix(k) >>> 40, 36))

  private val rnd = new java.util.Random(seed)
  private def topic(weights: Array[Double]): String = {
    var u = rnd.nextDouble() * weights.sum; var i = 0
    while (u >= weights(i) && i < weights.length - 1) { u -= weights(i); i += 1 }
    Topics(i)
  }
  private def words(n: Int): Array[String] = Array.fill(n)(Vocab(rnd.nextInt(Vocab.length)))
  private def doc(weights: Array[Double], minWords: Int, maxWords: Int): Array[String] =
    topic(weights) +: words(minWords + rnd.nextInt(maxWords - minWords + 1))
  /** Replace one word (never the topic) with a different one. */
  private def edit(d: Array[String]): Array[String] = {
    val c = d.clone(); val p = 1 + rnd.nextInt(d.length - 1)
    var w = c(p); while (w == c(p)) w = Vocab(rnd.nextInt(Vocab.length))
    c(p) = w; c
  }

  private val curWeights = Array(8.0, 7, 6, 5, 4, 3, 2, 1)
  private val baseWeights = Array(3.0, 4, 5, 6, 6, 5, 4, 3)

  // (text, twin group or -1, hot key or -1) before shuffling into row order
  private val base = Array.fill(BaseDocs)(doc(curWeights, 40, 80))
  private val twinOf = rnd.ints(0, BaseDocs).distinct().limit(Twins).toArray
  private val template = doc(curWeights, 60, 60)
  private final case class Entry(text: Array[String], twin: Int, hot: Int)
  private val entries: Array[Entry] = {
    val b = mutable.ArrayBuffer.empty[Entry]
    val twinIdx = twinOf.zipWithIndex.toMap
    base.indices.foreach(i => b += Entry(base(i), twinIdx.getOrElse(i, -1), -1))
    twinOf.zipWithIndex.foreach { case (i, t) => b += Entry(edit(base(i)), t, -1) }
    b += Entry(template, -1, -1)
    (1 until Farm).foreach(_ => b += Entry(edit(template), -1, -1))
    for (k <- 0 until HotKeys; _ <- 0 until HotRows) b += Entry(doc(curWeights, 40, 80), -1, k)
    val arr = b.toArray
    // seeded Fisher-Yates, so planted rows land anywhere in row order
    for (i <- arr.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr
  }

  val rows: Array[AuditRow] = {
    val danglingRows = rnd.ints(0, entries.length).distinct().limit(Dangling).toArray.toSet
    entries.zipWithIndex.map { case (e, i) =>
      val ref =
        if (danglingRows(i)) s"missing-$i"
        else if (rnd.nextInt(20) == 0) null
        else s"asset-${rnd.nextInt(Assets)}"
      AuditRow(i, if (e.hot >= 0) s"hot-${e.hot}" else s"d-$i", e.text.mkString(" "), ref)
    }
  }
  val baseline: Array[AuditRow] = Array.tabulate(BaselineDocs) { i =>
    AuditRow(i, s"b-$i", doc(baseWeights, 50, 90).mkString(" "), null)
  }
  val assets: Array[Asset] = Array.tabulate(Assets)(i => Asset(s"asset-$i"))

  val twinPairs: Set[(Long, Long)] = entries.indices.filter(entries(_).twin >= 0)
    .groupBy(entries(_).twin).values.map { is => (is.min.toLong, is.max.toLong) }.toSet
  /** Exact ngram pairs: every twin pair plus every farm pair. */
  val exactPairs: Long = Twins + Farm.toLong * (Farm - 1) / 2
  val clusters: Int = Twins + 1
  val keptRows: Long = rows.length - Twins - (Farm - 1)

  def wordCount(text: String): Int = text.split(" ").length

  val psi: Double = {
    val eps = 1e-6
    def freq(rs: Array[AuditRow]): Map[String, Double] =
      rs.groupBy(_.text.takeWhile(_ != ' ')).map { case (k, v) => k -> v.length.toDouble / rs.length }
    val p = freq(rows); val q = freq(baseline)
    (p.keySet ++ q.keySet).toSeq.map { k =>
      val a = math.max(p.getOrElse(k, 0.0), eps); val b = math.max(q.getOrElse(k, 0.0), eps)
      (a - b) * math.log(a / b)
    }.sum
  }
}

/** `corpus_audit`: the shuffle-bearing checks, aggregates and dedup
  * operators over one seeded text corpus.
  */
final class AuditWorkload(seed: Long, work: Path) extends Workload {
  private val corpusDir = work.resolve("corpus")
  private val baselineDir = work.resolve("baseline")
  private val catalogDir = work.resolve("catalog")
  private lazy val c = new AuditCorpus(seed)
  def inputDocs: Long = c.rows.length.toLong
  val inputDirs: Seq[Path] = Seq(corpusDir, baselineDir, catalogDir)
  val Percents = Seq(50, 90, 99)
  private var counts = Map.empty[String, Double]

  private val topic: Column = substring_index(col("text"), " ", 1)
  private val wordCount: Column = size(split(col("text"), " "))

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    c.rows.toSeq.toDS().repartition(8).write.parquet(corpusDir.toString)
    c.baseline.toSeq.toDS().repartition(4).write.parquet(baselineDir.toString)
    c.assets.toSeq.toDS().coalesce(1).write.parquet(catalogDir.toString)
  }

  def sequence(spark: SparkSession, it: Iter, out: Path): Boolean => Unit = {
    import spark.implicits._
    val s = it.call("io.pin_snapshot")(
      ParquetSnapshotIO.pinSnapshot(spark, corpusDir.toString, out.resolve("manifests").toString))
      .getOrElse(return (_: Boolean) => ())
    val df = ParquetSnapshotIO.readSnapshot(spark, s, s.files)
    val baseline = spark.read.parquet(baselineDir.toString)
    val catalog = spark.read.parquet(catalogDir.toString)
    def pairs(name: String)(f: => DataFrame): Option[Set[(Long, Long)]] =
      it.call(name)(f.select("a", "b").as[(Long, Long)].collect().toSet)

    val dup = it.call("checks.uniqueness")(Uniqueness.dupStats(df, col("doc_id")).collect().head)
    val dangling = it.call("checks.referential")(
      Referential.dangling(df, col("media_ref"), catalog, col("asset_id")).count())
    val drift = it.call("checks.drift") {
      (Drift.psi(df, baseline, topic).collect().head.getDouble(0),
        Drift.ksAuto(df, baseline, wordCount).collect().head.getDouble(0))
    }
    val stats = it.call("agg.column_stats")(
      df.agg(StatsAgg.columnStats(col("text")).as("s")).select("s.*").collect().head)
    val quantiles = it.call("checks.quantiles")(ExactQuantile.percentiles(df, wordCount, Percents).collect().head)
    val minhash = pairs("ops.minhash_pairs")(Dedup.minhashPairs(df, col("row_id"), col("text")))
    minhash.foreach { mh =>
      it.call("ops.keep_one")(Dedup.keepOnePerCluster(df, col("row_id"), mh.toSeq.toDF("a", "b"))
        .write.parquet(out.resolve("kept").toString))
    }
    val ngram = pairs("ops.ngram_pairs")(Dedup.ngramJaccardPairs(df, col("row_id"), col("text")))
    val simhash = it.call("ops.simhash_pairs")(Dedup.simhashPairs(df, col("row_id"), col("text")).count())

    _ => {
      dup.foreach(r => it.check("checks.uniqueness",
        r.getLong(0) == c.HotKeys && r.getLong(1) == c.HotKeys * (c.HotRows - 1L), s"dupStats $r"))
      dangling.foreach(n => it.check("checks.referential", n == c.Dangling, s"dangling $n != ${c.Dangling}"))
      drift.foreach { case (psi, ks) =>
        it.check("checks.drift", math.abs(psi - c.psi) <= 1e-9 * math.max(1.0, c.psi) && ks > 0 && ks <= 1,
          s"psi $psi (planted ${c.psi}), ks $ks")
      }
      stats.foreach { r =>
        val texts = c.rows.map(_.text)
        it.check("agg.column_stats", r.getLong(0) == texts.length && r.getLong(1) == 0 &&
          r.getString(2) == texts.min && r.getString(3) == texts.max, s"column stats $r")
      }
      quantiles.foreach { r =>
        val sorted = c.rows.map(row => c.wordCount(row.text)).sorted
        val want = Percents.map(p => sorted((ExactQuantile.rankOf(sorted.length, p) - 1).toInt))
        it.check("checks.quantiles",
          r.getLong(0) == sorted.length && Percents.indices.forall(i => r.getInt(i + 1) == want(i)),
          s"percentiles $r != $want")
      }
      for (ng <- ngram) {
        val missing = c.twinPairs.diff(ng)
        it.check("ops.ngram_pairs", missing.isEmpty && ng.size == c.exactPairs,
          s"${ng.size} exact pairs (planted ${c.exactPairs}), ${missing.size} twins missing")
      }
      for (mh <- minhash) {
        it.check("ops.minhash_pairs", ngram.forall(ng => mh.subsetOf(ng)),
          "minhash pairs not a subset of the exact ngram pairs")
        val comps = components(mh)
        it.check("ops.minhash_pairs", comps == c.clusters, s"$comps clusters != ${c.clusters}")
        if (!it.failedCalls("ops.keep_one")) {
          val kept = spark.read.parquet(out.resolve("kept").toString).count()
          it.check("ops.keep_one", kept == c.keptRows, s"kept $kept rows != ${c.keptRows}")
        }
      }
      counts = Map(
        "ops.minhash_pairs" -> minhash.map(_.size.toDouble).getOrElse(0.0),
        "ops.ngram_pairs" -> ngram.map(_.size.toDouble).getOrElse(0.0),
        "ops.simhash_pairs" -> simhash.map(_.toDouble).getOrElse(0.0),
        "ops.minhash_recall" -> (for (mh <- minhash; ng <- ngram if ng.nonEmpty)
          yield mh.intersect(ng).size.toDouble / ng.size).getOrElse(0.0))
    }
  }

  /** Connected components of an undirected pair list (union-find). */
  private def components(pairs: Set[(Long, Long)]): Int = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) => val ra = find(a); val rb = find(b); if (ra != rb) parent(ra) = rb }
    parent.keys.map(find).toSet.size
  }

  def layers(spark: SparkSession, it: Iter, out: Path): Map[String, Double] = {
    val m = Map.newBuilder[String, Double]
    m ++= counts
    val snap = ParquetSnapshotIO.pinSnapshot(spark, corpusDir.toString, out.resolve("manifests").toString)
    def df = ParquetSnapshotIO.readSnapshot(spark, snap, snap.files)
    m += "io.scan_s" -> it.median3("io.scan") {
      val r = df.agg(count(lit(1)), sum(length(col("text"))), count(col("media_ref")), max(col("row_id")))
        .collect().head
      it.check("io.scan", r.getLong(0) == inputDocs, s"scanned ${r.getLong(0)} rows")
    }
    it.call("ops.bucket_stats")(Dedup.minhashBucketStats(df, col("row_id"), col("text")).head())
      .foreach(r => m += "ops.bucket_max" -> r.getAs[Long]("n").toDouble)
    m.result()
  }
}
