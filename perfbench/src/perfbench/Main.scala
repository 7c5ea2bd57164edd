package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--spans <file>]
  *
  * One JVM at local[cores], driven by this single caller in a closed loop.
  * Inputs are generated from the seed before any timing. Set-up (session
  * creation + one untimed warm-up pass) is repeated and its median
  * reported; then the workload's call sequence repeats for `seconds`. The
  * last stdout line is a JSON object of raw metric values by name; the
  * runner attaches units from BENCHMARK.json.
  */
object Main {
  val SetupRounds = 3
  /** Control.hashRate work per core: ~0.1 s a leg at ~0.1 Ghash/s per core. */
  val ControlPerCore = 10000000L

  /** One pass: wall time of the call sequence, bytes it left on disk, and
    * each call's seconds.
    */
  final case class Pass(wallS: Double, outBytes: Long, calls: Map[String, Double])

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, spans: Option[Path])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t") },
      Paths.get(need("work")).toAbsolutePath, kv.get("spans").map(Paths.get(_).toAbsolutePath))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(a.work)
    val wl: Workload = a.workload match {
      case "validate_clean" => new ValidateWorkload(a.seed, a.work)
      case "corpus_audit" => new AuditWorkload(a.seed, a.work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    HeapPeak.install()
    val tracer = new Tracer(s"${a.workload}-seed${a.seed}")
    var attempted = 0; var failed = 0
    var pass = 0
    def nextOut(): Path = { pass += 1; a.work.resolve(s"out-$pass") }

    /** One call sequence plus its output checks. Table-level checks run on
      * the first warm-up and the first measured pass.
      */
    def runPass(spark: SparkSession, out: Path, deep: Boolean,
        onDone: Double => Unit = _ => ()): Pass = {
      val it = new Iter(tracer)
      val t0 = System.nanoTime()
      val verify =
        try tracer.span(s"pass $pass", "bench")(wl.sequence(spark, it, out))
        catch { case NonFatal(e) => it.fail("sequence", s"threw $e"); (_: Boolean) => () }
      val wall = (System.nanoTime() - t0) / 1e9
      onDone(wall)
      try verify(deep) catch { case NonFatal(e) => it.fail("checks", s"threw $e") }
      attempted += it.attempted; failed += it.failedCalls.size
      System.err.println(f"pass $pass: $wall%.3f s; " +
        it.seconds.map { case (c, t) => f"$c=$t%.3f" }.mkString(" "))
      Pass(wall, Disk.bytes(out), it.seconds.toMap)
    }

    // --- set-up, repeated: session creation + untimed warm-up pass ------
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (round <- 0 until SetupRounds) {
      if (spark != null) spark.stop()
      System.gc()
      val t0 = System.nanoTime()
      spark = session(cores, a.work)
      var genS = 0.0
      if (round == 0) {
        val g0 = System.nanoTime()
        wl.generate(spark)
        genS = (System.nanoTime() - g0) / 1e9
      }
      val out = nextOut()
      runPass(spark, out, deep = round == 0)
      setups += (System.nanoTime() - t0) / 1e9 - genS
      Disk.delete(out)
    }
    tracer.sc = spark.sparkContext
    val inBytes = Disk.bytes(wl.inputDirs: _*)

    // --- measured loop ----------------------------------------------------
    val ghBefore = graft.tools.Control.hashRate(spark, cores, ControlPerCore) / 1e9
    val listener = new EngineListener(tracer)
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val outRatios = mutable.ArrayBuffer.empty[Double]
    val callSamples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val sparkSamples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val minPasses = if (a.trace) 2 else 1
    System.gc()
    HeapPeak.reset()
    val loop0 = System.nanoTime()
    var k = 0
    var lastOut: Path = null
    while (k < minPasses || (System.nanoTime() - loop0) / 1e9 < a.seconds) {
      val withTrace = a.trace && k % 2 == 0
      if (lastOut != null) Disk.delete(lastOut)
      lastOut = nextOut()
      if (withTrace) {
        spark.sparkContext.addSparkListener(listener); listener.reset(); tracer.on = true
      }
      val p = runPass(spark, lastOut, deep = k == 0, wall => if (withTrace) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        listener.take(wall, inBytes, wl.inputDocs, cores).foreach { case (m, v) =>
          sparkSamples.getOrElseUpdate(m, mutable.ArrayBuffer.empty) += v }
      })
      if (withTrace) { tracer.on = false; spark.sparkContext.removeSparkListener(listener) }
      (if (withTrace) traced else untraced) += wl.inputDocs / p.wallS
      outRatios += p.outBytes.toDouble / inBytes
      p.calls.foreach { case (c, s) => callSamples.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += s }
      System.gc()
      k += 1
    }
    val heapPeak = HeapPeak.peakMiB
    val ghAfter = graft.tools.Control.hashRate(spark, cores, ControlPerCore) / 1e9

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!a.trace) {
      metrics += "docs_per_s" -> Stats.median(untraced.toSeq)
      metrics += "setup_s" -> Stats.median(setups.toSeq)
      metrics += "out_bytes_per_in_byte" -> Stats.median(outRatios.toSeq)
      metrics += "heap_peak_mb" -> heapPeak
    } else {
      tracer.on = true
      spark.sparkContext.addSparkListener(listener)
      val it = new Iter(tracer)
      val layer =
        try tracer.span("layers", "bench")(wl.layers(spark, it, lastOut))
        catch { case NonFatal(e) => it.fail("layers", s"threw $e"); Map.empty[String, Double] }
      attempted += it.attempted; failed += it.failedCalls.size
      callSamples.foreach { case (c, xs) => metrics += s"${c}_s" -> Stats.median(xs.toSeq) }
      sparkSamples.foreach { case (m, xs) => metrics += m -> Stats.median(xs.toSeq) }
      metrics ++= layer
      for (v <- layer.get("checks.validate_pass_s"))
        metrics += "checks.job_overhead_ratio" ->
          (metrics.getOrElse("checks.job_first_s", 0.0) + metrics.getOrElse("checks.job_resume_s", 0.0)) / v
      metrics += "io.corpus_bytes" -> inBytes.toDouble
      metrics += "host.ghash_per_s_before" -> ghBefore
      metrics += "host.ghash_per_s_after" -> ghAfter
      val t = Stats.median(traced.toSeq); val u = Stats.median(untraced.toSeq)
      metrics += "trace.docs_per_s" -> t
      metrics += "trace.overhead_frac" -> (u - t) / u
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      a.spans.foreach(tracer.write)
    }
    Disk.delete(lastOut)
    spark.stop()

    val failedFrac = failed.toDouble / math.max(1, attempted)
    println(f"passes=$k attempted=$attempted failed=$failed failed_frac=$failedFrac%.4f " +
      f"host.ghash_per_s before=$ghBefore%.3f after=$ghAfter%.3f setups=${setups.map(s => f"$s%.2f").mkString(",")}")
    val body = metrics.map { case (m, v) => s"${Json.str(m)}:${Json.num(v)}" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    System.exit(0)
  }
}
