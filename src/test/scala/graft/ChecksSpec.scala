package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.StatsAgg
import graft.checks.{Drift, Referential, Uniqueness}

/** Stats aggregator, uniqueness (incl. adversarial skew), referential, drift. */
class ChecksSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  test("StatsAgg computes counts, nulls, min/max, and length histogram in one pass") {
    val df = Seq(Some("a"), Some("bb" * 60), None, Some("ccc"), None).toDF("s")
    val row = df.agg(StatsAgg.columnStats($"s").as("st")).select("st.*").collect().head
    assert(row.getAs[Long]("n_rows") == 5)
    assert(row.getAs[Long]("n_nulls") == 2)
    assert(row.getAs[String]("min_s") == "a")
    assert(row.getAs[String]("max_s") == "ccc")
    val hist = row.getAs[Map[Int, Long]]("len_hist")
    assert(hist == Map(0 -> 2L, 1 -> 1L)) // "a","ccc" in [0,100); 120 chars in [100,200)
  }

  test("StatsAgg merges across partitions (values equal to single-partition run)") {
    val df = spark.range(0, 10000, 1, 8)
      .select(when($"id" % 7 === 0, lit(null)).otherwise(concat(lit("v"), $"id")).as("s"))
    val a = df.agg(StatsAgg.columnStats($"s")).collect().head.toString
    val b = df.coalesce(1).agg(StatsAgg.columnStats($"s")).collect().head.toString
    assert(a == b)
  }

  test("custom aggregates reject wrong-typed inputs at analysis time") {
    import org.apache.spark.sql.AnalysisException
    // KmvAgg: a long key must be cast explicitly (the hash domain should be
    // a deliberate choice), never a mid-job ClassCastException
    val longs = spark.range(10)
    intercept[AnalysisException] {
      longs.agg(graft.agg.Kmv.sketch($"id", 64)).collect()
    }
    // TopKAgg: int id widens implicitly; a non-numeric id surfaces as a
    // CLEAR cast error (never an opaque executor ClassCastException)
    val df = Seq((1.0, 1), (2.0, 2)).toDF("s", "i")
    val ok = df.agg(graft.agg.TopKAgg.topK($"s", $"i", 1)).collect()
    assert(ok.head.getSeq[org.apache.spark.sql.Row](0).head.getLong(0) == 2L)
    val e = intercept[Exception] {
      Seq((1.0, "x")).toDF("s", "i")
        .agg(graft.agg.TopKAgg.topK($"s", $"i", 1)).collect()
    }
    assert(!e.isInstanceOf[ClassCastException]
      && e.getMessage.contains("CAST_INVALID_INPUT"), s"got $e")
  }

  test("KMV sketch: split-merge equals single pass, idempotent, duplicate-proof") {
    import graft.agg.{Kmv, KmvBuf}
    val n = 5000
    val vals = (0 until n).map(i => s"value-$i")
    val df = vals.toDF("s").repartition(8)
    val whole = df.agg(Kmv.sketch($"s", 64)).collect().head.getAs[Array[Byte]](0)
    // sketch two disjoint halves separately, then merge the BUFFERS: must
    // equal the single-pass sketch byte-for-byte (k smallest of the union)
    val halves = df.withColumn("h", pmod(crc32($"s"), lit(2)))
      .groupBy($"h").agg(Kmv.sketch($"s", 64).as("sk"))
    val merged = halves.agg(Kmv.mergeSketch($"sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, merged))
    // idempotence: every buffer merged twice changes nothing (the ledger
    // stores one batch's sketch on each of its file rows)
    val merged2 = halves.unionByName(halves).agg(Kmv.mergeSketch($"sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, merged2))
    // duplicates of the VALUES do not change the sketch either
    val dup3 = (vals ++ vals ++ vals).toDF("s").repartition(8)
      .agg(Kmv.sketch($"s", 64)).collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, dup3))
    val buf = KmvBuf.deserialize(whole)
    assert(buf.set.size == 64)
    assert(math.abs(buf.estimate - n) <= 0.3 * n)
    // decode column face agrees with the driver-side deserialization
    val d = df.agg(Kmv.sketch($"s", 64).as("sk"))
      .select(Kmv.decode($"sk").as("d"))
      .select($"d.n_kept", $"d.kth_hash", $"d.estimate").collect().head
    assert(d.getLong(0) == 64 && d.getLong(1) == buf.set.last())
    assert(d.getDouble(2) == buf.estimate)
  }

  test("KMV sketch below k is exact") {
    import graft.agg.{Kmv, KmvBuf}
    val df = (Seq("a", "b", "c") ++ Seq("a", "b")).toDF("s")
    val sk = df.agg(Kmv.sketch($"s", 64)).collect().head.getAs[Array[Byte]](0)
    val buf = KmvBuf.deserialize(sk)
    assert(buf.set.size == 3 && buf.estimate == 3.0)
  }

  test("uniqueness finds duplicated keys and survives an adversarial hot key") {
    // one key with 100k rows across partitions + 10 normal dup keys + uniques
    val hot = spark.range(0, 100000, 1, 16).select(lit("HOT").as("k"))
    val dups = spark.range(10).select(concat(lit("d"), $"id").as("k"))
    val data = hot
      .unionAll(dups).unionAll(dups)
      .unionAll(spark.range(1000).select(concat(lit("u"), $"id").as("k")))
    val dk = Uniqueness.dupKeys(data, col("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dk("HOT") == 100000L)
    assert(dk.size == 11 && dk("d3") == 2L)
    val st = Uniqueness.dupStats(data, col("k")).collect().head
    assert(st.getAs[Long]("n_dup_keys") == 11)
    assert(st.getAs[Long]("n_surplus_rows") == (100000 - 1) + 10)
    // the skew ceiling now rests on Catalyst's PARTIAL hash aggregate (the
    // explicit groupBy(key, partition_id) salt stage was removed in r6 as a
    // redundant second exchange), so pin the guarantee ON dupKeys' OWN
    // executed plan: a Partial-mode count must sit below the exchange — at
    // most one hot-key row per input partition enters the shuffle
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Partial}
    val executed = Uniqueness.dupKeys(data, col("k"))
    executed.collect()
    val nodes = org.apache.spark.sql.graftbridge.Bridge.finalPlanNodes(executed)
    val partialAggs = nodes.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if h.aggregateExpressions.exists(e =>
            e.mode == Partial && e.aggregateFunction.isInstanceOf[Count]) => h
    }
    assert(partialAggs.nonEmpty,
      s"dupKeys lost its map-side partial aggregation:\n${nodes.mkString("\n")}")
  }

  test("dupStats on all-unique keys returns zeros (not an empty frame)") {
    val st = Uniqueness.dupStats(spark.range(100).toDF("k"), col("k")).collect().head
    assert(st.getLong(0) == 0 && st.getLong(1) == 0)
  }

  test("referential: dangling media refs vs broadcast asset catalog") {
    import graft.gen.Synth
    val docs = Synth.corpusDF(spark, 50) // media_ref = asset-(id%1024)
    val catalog = spark.range(40).select(concat(lit("asset-"), $"id").as("asset_id"))
    val dangling = Referential.danglingMediaRefs(docs, catalog, col("asset_id"))
    // ids 40..49 have media_ref asset-40..asset-49, absent from the catalog
    assert(dangling.count() == 10)
    val plan = dangling.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"not broadcast:\n$plan")
  }

  test("PSI is ~0 for identical distributions and large for shifted ones") {
    val a = spark.range(1000).select(($"id" % 5).cast("string").as("c"))
    val b = spark.range(1000).select(($"id" % 5).cast("string").as("c"))
    val same = Drift.psi(a, b, col("c")).collect().head.getDouble(0)
    assert(math.abs(same) < 1e-9)
    val shifted = spark.range(1000).select(
      when($"id" % 5 === 0, lit("0")).otherwise(lit("1")).as("c"))
    val drifted = Drift.psi(a, shifted, col("c")).collect().head.getDouble(0)
    assert(drifted > 0.5)
  }

  test("bucketed KS is 0 for identical and ~shift/range for a uniform shift") {
    val a = spark.range(10000).select(($"id" % 100).cast("double").as("v"))
    val b = spark.range(10000).select((($"id" % 100) + 20).cast("double").as("v"))
    val same = Drift.ksBucketed(a, a, col("v"), 0, 200, 200).collect().head.getDouble(0)
    assert(same == 0.0)
    val ks = Drift.ksBucketed(a, b, col("v"), 0, 200, 200).collect().head.getDouble(0)
    assert(math.abs(ks - 0.2) < 0.01)
  }

  test("auto-ranged KS discovers the true range; fixed-range clipping understates tail drift") {
    // cur: uniform on [0, 100); base: half that, half a far outlier at 1000
    val cur = spark.range(10000).select(($"id" % 100).cast("double").as("v"))
    val base = spark.range(10000).select(
      when($"id" % 2 === 0, ($"id" % 100).cast("double"))
        .otherwise(lit(1000.0)).as("v"))
    // truth: base puts 0.5 of its mass at 1000, so sup|CDF diff| = 0.5
    val auto = Drift.ksAuto(cur, base, col("v"), buckets = 100)
      .collect().head.getDouble(0)
    assert(math.abs(auto - 0.5) < 0.02, s"auto KS $auto != ~0.5")
    // auto equals manual bucketing at the true range
    val manual = Drift.ksBucketed(cur, base, col("v"), 0.0, 1000.0, 100)
      .collect().head.getDouble(0)
    assert(auto == manual)
    // a fixed guess of [0, 100) CLIPS the outliers into the top bucket:
    // they stop being distinguishable from in-range mass and the measured
    // drift drops — the silent failure ksAuto exists to prevent
    val clipped = Drift.ksBucketed(cur, base, col("v"), 0.0, 100.0, 100)
      .collect().head.getDouble(0)
    assert(clipped < auto - 0.009, s"clipped $clipped should understate $auto")
    // degenerate: all-null input -> null ks; constant input -> 0
    val nulls = spark.range(5).select(lit(null).cast("double").as("v"))
    assert(Drift.ksAuto(nulls, nulls, col("v")).collect().head.isNullAt(0))
    val const = spark.range(5).select(lit(7.0).as("v"))
    assert(Drift.ksAuto(const, const, col("v")).collect().head.getDouble(0) == 0.0)
  }

  test("grouped PSI matches scalar PSI per group, incl. vanished/novel categories") {
    val base = Seq(("a", 50L), ("b", 30L), ("c", 20L)).toDF("cat", "n_base")
    val cur = Seq(
      ("g1", "a", 10L), ("g1", "b", 80L), ("g1", "c", 10L), // shifted
      ("g2", "a", 500L), ("g2", "b", 300L), ("g2", "c", 200L), // same mix
      ("g3", "a", 50L), ("g3", "b", 30L), ("g3", "d", 20L)) // novel d, vanished c
      .toDF("g", "cat", "n")
    val got = Drift.psiGrouped(cur, base, col("g"), col("cat"), col("n"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // scalar reference: expand counts to raw rows and run Drift.psi per group
    def expand(rows: Seq[(String, Long)]) =
      rows.flatMap { case (c, n) => Seq.fill(n.toInt)(c) }.toDF("c")
    val baseRaw = expand(Seq("a" -> 50L, "b" -> 30L, "c" -> 20L))
    val curRows = Map(
      "g1" -> Seq("a" -> 10L, "b" -> 80L, "c" -> 10L),
      "g2" -> Seq("a" -> 500L, "b" -> 300L, "c" -> 200L),
      "g3" -> Seq("a" -> 50L, "b" -> 30L, "d" -> 20L))
    curRows.foreach { case (g, rows) =>
      val scalar = Drift.psi(expand(rows), baseRaw, col("c"))
        .collect().head.getDouble(0)
      assert(math.abs(got(g) - scalar) < 1e-12, s"$g: ${got(g)} vs $scalar")
    }
    assert(got("g2") == 0.0)          // identical mix -> exactly 0
    assert(got("g3") > 1.0)           // novel + vanished category -> loud
  }

  test("psiGrouped defensively sums duplicated (group, cat) input rows") {
    val base = Seq(("a", 50L), ("b", 50L)).toDF("cat", "n_base")
    val pre = Seq(("g1", "a", 30L), ("g1", "b", 70L)).toDF("g", "cat", "n")
    // the same counts split across duplicate rows — must yield the SAME psi
    val dup = Seq(("g1", "a", 10L), ("g1", "a", 20L),
      ("g1", "b", 40L), ("g1", "b", 30L)).toDF("g", "cat", "n")
    val p1 = Drift.psiGrouped(pre, base, col("g"), col("cat"), col("n"))
      .collect().head.getDouble(1)
    val p2 = Drift.psiGrouped(dup, base, col("g"), col("cat"), col("n"))
      .collect().head.getDouble(1)
    assert(math.abs(p1 - p2) < 1e-12, s"$p1 vs $p2")
  }

  test("ExactQuantile: distributed percentiles equal the brute-force ranks") {
    import graft.checks.ExactQuantile
    // deterministic values with heavy ties and a skewed tail — the shapes
    // where FP ceil and tie-group boundaries bite
    val vals = (0 until 997).map(i => ((i * i) % 37).toLong) ++
      Seq(1000L, 1000L, 5000L)
    val df = vals.toDF("v").repartition(16)
    val ps = Seq(1, 50, 90, 99, 100)
    val row = ExactQuantile.percentiles(df, col("v"), ps).collect().head
    assert(row.getLong(0) == vals.size)
    val sorted = vals.sorted
    ps.zipWithIndex.foreach { case (p, i) =>
      val rank = ExactQuantile.rankOf(vals.size, p)
      val expected = sorted((rank - 1).toInt)
      assert(row.getLong(i + 1) == expected, s"p$p: ${row.getLong(i + 1)} vs $expected")
    }
    // integer rank math: n divisible by 100 must NOT shift the rank by one
    // (the double-ceil hazard: ceil(0.9 * 800000) -> 720001 in FP)
    assert(ExactQuantile.rankOf(800000L, 90) == 720000L)
    // nulls excluded; empty input -> n_rows 0, null percentiles
    val empty = ExactQuantile.percentiles(
      Seq.empty[java.lang.Long].toDF("v"), col("v"), Seq(50)).collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("ExactQuantile rejects cuts on a non-integral value column") {
    import graft.checks.ExactQuantile
    val df = Seq(0.5, 1.5, 2.5).toDF("v")
    // long cuts against a double column would coerce silently
    val e = intercept[IllegalArgumentException] {
      ExactQuantile.percentilesWithCuts(df, col("v"), Seq(50), Seq(1L))
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // without cuts a double column is fine
    assert(ExactQuantile.percentiles(df, col("v"), Seq(50)).collect().head.getDouble(1) == 1.5)
  }

  test("kind frequencies over the synthetic corpus") {
    import graft.gen.Synth
    val kf = Drift.kindFrequencies(Synth.corpusDF(spark, 90)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kf("LDR") == 90)
    assert(kf("media") == 90)
    assert(kf("008") == 90)
    assert(kf("001") == 90 + 10) // class-1 docs carry a duplicate 001
  }
}
