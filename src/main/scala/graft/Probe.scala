package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Packing, Sampling, TextAnalysis}
import graft.tools.Control

/** Optimization and scaling probes, one main with subcommands:
  *
  *   Probe time [query ...]        each query's `.count()` SPARK_GRAFT_REPS times
  *                                 (default 3), min + median; no query = all
  *   Probe explain query ...       formatted physical plans
  *   Probe plans [sfDir]           the audited plans, AQE off, to BENCH/PLANS.md
  *   Probe scale [nDocs] [N]       validate throughput at local[N] vs local[4N],
  *                                 appended to BENCH/BASELINE.md
  *   Probe opscale [nDocs]         corpus-shaping operators on the synthetic corpus
  *   Probe linededup [totalLines]  lineDedupIntra rate from 100- to 20k-line docs
  *
  * `time` and `explain` read SPARK_GRAFT_SF_DIR (default
  * /root/testdata/sf0.1). Every session comes from [[Session]], so
  * SPARK_GRAFT_CPUS sets the parallelism and SPARK_MASTER the master.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def num(rest: List[String], i: Int, default: Long): Long =
      rest.lift(i).fold(default)(_.toLong)
    args.toList match {
      case "time" :: names =>
        val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
        withSession("graft-probe-time")(time(_, sfDir, names, reps))
      case "explain" :: names if names.nonEmpty =>
        withSession("graft-probe-explain")(s => print(explain(s, sfDir, names)))
      case "plans" :: rest =>
        withSession("graft-probe-plans")(plans(_, rest.headOption.getOrElse("/root/testdata/sf0.001")))
      case "scale" :: rest => scale(num(rest, 0, 600000L), num(rest, 1, 8).toInt)
      case "opscale" :: rest =>
        withSession("graft-probe-opscale")(opscale(_, num(rest, 0, 19200000L)))
      case "linededup" :: rest =>
        withSession("graft-probe-linededup")(lineDedup(_, num(rest, 0, 20000000L)))
      case _ =>
        throw new IllegalArgumentException("usage: Probe time|explain|plans|scale|opscale|linededup " +
          "[args] (see the graft.Probe scaladoc)")
    }
  }

  private def withSession[T](appName: String)(f: SparkSession => T): T = {
    val spark = Session.create(appName)
    try f(spark) finally spark.stop()
  }

  /** The one timer: wall seconds of `body`, which returns a count; prints
    * one PROBE line per call.
    */
  private def timed(tag: String)(body: => Long): Double = {
    val t0 = System.nanoTime()
    val n = body
    val s = (System.nanoTime() - t0) / 1e9
    println(f"PROBE $tag $s%.3fs n=$n")
    s
  }

  /** Times each named SparkEntry query `reps` times with the action the
    * bench uses (`.count()`); returns (query, min s, median s).
    */
  def time(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Seq[(String, Double, Double)] = {
    require(reps >= 1, s"reps must be >= 1: $reps")
    val qs = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    qs.map { name =>
      val fn = SparkEntry.queries(name)
      val samples = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"$name rep $i")
        timed(s"$name rep$i")(fn(spark, sfDir).count())
      }.sorted
      val median = (samples((reps - 1) / 2) + samples(reps / 2)) / 2
      println(f"PROBE $name min ${samples.head}%.3fs median $median%.3fs")
      (name, samples.head, median)
    }
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim

  /** Formatted physical plan of each named query, under a `==== name ====` header. */
  def explain(spark: SparkSession, sfDir: String, names: Seq[String]): String =
    names.map(name => s"==== $name ====\n${formatted(SparkEntry.queries(name)(spark, sfDir))}\n")
      .mkString

  /** Representative queries whose plan shapes BENCH/PLANS.md documents. */
  private val Audited: Seq[String] = Seq(
    "marc_corpus_verdicts", // validation pass: no shuffle before the agg
    "referential_dangling", // broadcast anti-joins
    "text_contamination",   // benchmark broadcast, corpus never shuffles
    "dedup_near_pairs",     // slim band exchange + capped buckets + verify
    "dedup_embed_pairs",    // same shape over vectors
    "text_token_counts",    // pure map, pruned scan
    "events_hourly",        // windowed agg (streaming's batch form)
    "ann_batch_topk",       // broadcast query block + bounded top-k agg
    "sample_domain_cap",    // bounded-heap cap: partial top_k before exchange
    "text_distinctive_terms", // one term-hashed exchange reused across join sides
    "pack_sequences",       // single (bucket) exchange + per-bucket sort
    "curation_pipeline")    // gate+sample map-only into the cap aggregate

  /** Writes the [[Audited]] plans to BENCH/PLANS.md, so the plan-shape
    * claims (pushed filters, pruned scans, broadcast joins, payload-free
    * band exchanges, whole-stage codegen spans) are inspectable without
    * running anything. Exchange widths follow the session's cores.
    */
  def plans(spark: SparkSession, sfDir: String): Unit = {
    // AQE off: dump the static plan, not the adaptive wrapper
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sb = new StringBuilder
    sb.append("# Formatted physical plans (generated by graft.Probe plans, AQE off)\n")
    sb.append(s"\nInput: $sfDir — regenerate with " +
      "`SPARK_GRAFT_CPUS=4 sbt \"runMain graft.Probe plans\"`.\n")
    Audited.foreach { name =>
      sb.append(s"\n## $name\n\n```\n")
      sb.append(formatted(SparkEntry.queries(name)(spark, sfDir)))
      sb.append("\n```\n")
    }
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/PLANS.md"), sb.toString)
    println(s"wrote BENCH/PLANS.md (${sb.length} chars, ${Audited.size} plans)")
  }

  /** One scaling leg: validate docs/s plus the two same-session controls. */
  private final case class Leg(tput: Double, ctlHash: Double, ctlScan: Double)

  private def leg(dir: String, nDocs: Long, cores: Int): Leg = {
    val s = Session.create(s"graft-scale-$cores", cores)
    try {
      Bench.timeValidate(s, dir) // warm-up (page cache, JIT, codegen)
      val secs = (1 to 2).map(_ => Bench.timeValidate(s, dir)._1).min
      Leg(nDocs / secs, Control.hashRate(s, cores), Control.scanRate(s, dir))
    } finally s.stop()
  }

  /** Two-parallelism scaling evidence (efficiency >= 0.8 from N to 4N
    * cores; protocol per BASELINE.md: same job, same input). Each leg
    * carries two same-session controls — pure-CPU hashing (compute ceiling)
    * and a bare parquet scan of the corpus (memory/IO ceiling; validate is
    * scan-dominated) — so the artifact carries its own weather normalizer
    * and the relevant machine ceiling. Appends a table to BENCH/BASELINE.md
    * and prints one JSON line.
    *
    * With SPARK_MASTER set (e.g. `local-cluster[4,2,4096]`: separate
    * executor JVMs) the master fixes the executor layout, so one leg runs
    * at N cores and prints one JSON line; compare layouts across runs.
    */
  def scale(nDocs: Long, n: Int): Unit = sys.env.get("SPARK_MASTER") match {
    case Some(master) =>
      val l = leg(corpus(nDocs, n, n), nDocs, n)
      println(f"""{"metric":"scale_leg","master":"$master","cores":$n,"docs":$nDocs,"docs_per_sec":${l.tput}%.0f,"control_ghash":${l.ctlHash / 1e9}%.3f,"control_scan_mrows":${l.ctlScan / 1e6}%.1f}""")
    case None => scalePair(nDocs, n)
  }

  /** Generated once (excluded from timing), enough files for 4N parallelism. */
  private def corpus(nDocs: Long, n: Int, cores: Int): String = {
    val s = Session.create("graft-scale-gen", cores)
    try Bench.ensureCorpus(s, nDocs, files = n * 16) finally s.stop()
  }

  private def scalePair(nDocs: Long, n: Int): Unit = {
    val n4 = n * 4
    val dir = corpus(nDocs, n, n4)
    // interleave the legs (N, 4N, N, 4N, ...) so drift over the window hits
    // both equally; report each leg's best rep with the controls from that
    // same rep (so the normalized ratios are same-window)
    val pairs = (1 to 3).map(_ => (leg(dir, nDocs, n), leg(dir, nDocs, n4)))
    val legN = pairs.map(_._1).maxBy(_.tput)
    val leg4N = pairs.map(_._2).maxBy(_.tput)
    val eff = (leg4N.tput / legN.tput) / 4.0
    // the machine's demonstrated scaling ceilings, same window
    val effHash = (leg4N.ctlHash / legN.ctlHash) / 4.0
    val effScan = (leg4N.ctlScan / legN.ctlScan) / 4.0
    val ceiling = math.min(effHash, effScan)
    val verdict =
      // controls cannot scale superlinearly on a healthy machine: above 1
      // the N leg ran in a degraded window, which also INFLATES the validate
      // ratio — so this check must come first
      if (math.max(effHash, effScan) > 1.05)
        "INVALID WINDOW (controls scaled superlinearly - N-leg environment degraded; discard and re-run)"
      else if (eff >= 0.8) "PASS (raw)"
      else if (eff >= ceiling)
        "PASS vs same-window machine ceiling (raw below 0.8, but the weaker of the CPU/scan controls scaled no better in this window)"
      else if (eff / ceiling >= 0.8) "WEAK (within 80% of the same-window ceiling)"
      else "FAIL"

    val md =
      f"""
         |## Scaling run (${java.time.Instant.now()})
         |
         || config | validated docs/sec | control Ghash/sec | control scan Mrows/sec |
         ||---|---|---|---|
         || local[$n], shuffle.partitions=$n | ${legN.tput}%.0f | ${legN.ctlHash / 1e9}%.3f | ${legN.ctlScan / 1e6}%.1f |
         || local[$n4], shuffle.partitions=$n4 | ${leg4N.tput}%.0f | ${leg4N.ctlHash / 1e9}%.3f | ${leg4N.ctlScan / 1e6}%.1f |
         |
         |docs = $nDocs (synthetic interleaved corpus, deterministic seed, ${n4 * 4} files)
         |efficiency(validate) = (tput@$n4 / tput@$n) / 4 = **$eff%.3f** (criterion: >= 0.8)
         |efficiency(pure-CPU control, same window) = **$effHash%.3f** (compute ceiling)
         |efficiency(bare-scan control, same window) = **$effScan%.3f** (memory/IO ceiling — validate is scan-dominated)
         |verdict: **$verdict**
         |""".stripMargin
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/BASELINE.md"), md,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    println(f"""{"metric":"scaling_efficiency","value":$eff%.3f,"unit":"ratio","docs":$nDocs,"n":$n,"tput_n":${legN.tput}%.0f,"tput_4n":${leg4N.tput}%.0f,"control_ghash_n":${legN.ctlHash / 1e9}%.3f,"control_ghash_4n":${leg4N.ctlHash / 1e9}%.3f,"control_scan_mrows_n":${legN.ctlScan / 1e6}%.1f,"control_scan_mrows_4n":${leg4N.ctlScan / 1e6}%.1f,"hash_ctl_efficiency":$effHash%.3f,"scan_ctl_efficiency":$effScan%.3f,"verdict":"$verdict"}""")
  }

  /** Corpus-shaping operators over the synthetic interleaved corpus (the
    * default is 250x the sf0.1 documents table), bracketed by the pure-CPU
    * control so a reading is interpretable under host memory weather.
    * Prints one JSON line of per-op seconds.
    */
  def opscale(spark: SparkSession, nDocs: Long): Unit = {
    val cpus = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val dir = Bench.ensureCorpus(spark, nDocs, files = cpus * 2)
    val ctlPre = Control.hashRate(spark, cpus)
    // doc-level text view: spans concatenated (the shape every text op runs
    // on when the interleaved table is flattened for curation)
    def docs = spark.read.parquet(dir)
      .select(col("doc_id"),
        concat_ws(" ", transform(col("spans"), s => s.getField("text"))).as("text"))
    def op(tag: String)(body: => Long): String = f""""$tag":${timed(tag)(body)}%.2f"""
    val ops = Seq(
      op("stratified_sample") {
        Sampling.stratifiedSampleByHash(docs, col("doc_id"),
          substring(col("doc_id"), 1, 6), Map("doc-00" -> 0.5), 0.1, "sc")
          .count()
      },
      op("pack_sequences") {
        Packing.packSequences(
          docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n")),
          xxhash64(col("doc_id")), col("n"), capacity = 2048, buckets = cpus * 8)
          .count()
      },
      op("cap_per_group") {
        // group = a 64-way split of a SINGLE synthetic hot domain plus the
        // doc tail: ~300k docs/group, cap 1000
        Sampling.capPerGroup(
          docs.select(pmod(xxhash64(col("doc_id")), lit(64)).as("g"),
            xxhash64(col("doc_id")).as("id")),
          col("g"), col("id"), 1000).count()
      },
      op("line_dedup_intra") {
        Dedup.lineDedupIntra(
          docs.select(col("doc_id"), regexp_replace(col("text"), " ", "\n").as("t")),
          col("doc_id"), col("t")).select(sum(col("n_dropped"))).collect()
          .head.getLong(0)
      }).mkString(",")
    val ctlPost = Control.hashRate(spark, cpus)
    println(f"""{"metric":"corpus_ops_scale","docs":$nDocs,"cpus":$cpus,"ops":{$ops},"control_ghash_pre":${ctlPre / 1e9}%.3f,"control_ghash_post":${ctlPost / 1e9}%.3f}""")
  }

  /** Per-document linearity of [[Dedup.lineDedupIntra]]: docs of L lines
    * (half duplicated) for L in {100, 1000, 5000, 20000} at a constant total
    * line budget; a near-constant lines/s across L is the linearity
    * evidence (an O(lines²) formulation collapses ~100x from L=100 to
    * L=10000).
    */
  def lineDedup(spark: SparkSession, totalLines: Long): Unit = {
    import spark.implicits._
    Seq(100, 1000, 5000, 20000).foreach { linesPerDoc =>
      val nDocs = math.max(1L, totalLines / linesPerDoc)
      // line i of doc d repeats every 2nd line within the doc (50% intra-doc
      // duplicates), lines are >= minLen chars
      val docs = spark.range(nDocs).select(col("id"),
        concat_ws("\n", transform(sequence(lit(0), lit(linesPerDoc - 1)),
          i => concat(lit("line-content-"), col("id") % 1000, lit("-"),
            pmod(i, lit(linesPerDoc / 2))))).as("text"))
        .localCheckpoint() // generation excluded from the timing
      val s = timed(s"linededup linesPerDoc=$linesPerDoc docs=$nDocs") {
        Dedup.lineDedupIntra(docs, col("id"), col("text"))
          .agg(sum(col("n_dropped"))).as[Long].collect().head
      }
      println(f"PROBE linededup linesPerDoc=$linesPerDoc rate=${nDocs * linesPerDoc / s}%.0f lines/s")
    }
  }
}
