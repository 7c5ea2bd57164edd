package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `parent` is 0 for a root; `run` names the workload
  * run the span belongs to. Times are epoch microseconds, so benchmark spans
  * (nanoTime based) and listener spans (epoch millis) share one clock.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startUs: Long, endUs: Long, run: String)

/** In-memory span store. Spans are taken only while `on`; the benchmark
  * calls into the program from one thread, so the open-span stack is a
  * plain field. Each span sets the Spark job group to its id, which is how
  * the listener parents the jobs a call causes onto the call's span.
  */
final class Tracer(val run: String) {
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private var open = 0
  @volatile var on = false
  var sc: SparkContext = _

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def nextId(): Int = ids.incrementAndGet()
  def record(s: Span): Unit = done.add(s)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId()
      val parent = open
      open = id
      sc.setJobGroup(id.toString, null)
      val t0 = nowUs
      try body
      finally {
        record(Span(id, parent, name, layer, t0, nowUs, run))
        open = parent
        if (parent == 0) sc.clearJobGroup() else sc.setJobGroup(parent.toString, null)
      }
    }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = done.asScala.toSeq.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""run":${Json.str(s.run)}}"""
    }
    Files.write(path, lines.asJava)
  }
}

/** Call accounting for one pass over a workload: every public call into the
  * program goes through [[call]], which times it, takes its span, and
  * counts it as attempted; a throw or a failed output [[check]] marks it
  * failed (at most once per call).
  */
final class Iter(tracer: Tracer) {
  val seconds: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val failedCalls: mutable.LinkedHashSet[String] = mutable.LinkedHashSet.empty
  var attempted = 0

  def call[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try Some(tracer.span(name, name.takeWhile(_ != '.'))(body))
    catch { case NonFatal(e) => fail(name, s"threw $e"); None }
    finally seconds(name) = seconds.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Median wall time of three calls of `body` under one name. */
  def median3(name: String)(body: => Unit): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); call(name)(body); (System.nanoTime() - t0) / 1e9
    })

  def check(name: String, ok: Boolean, what: => String): Unit =
    if (!ok) fail(name, what)

  def fail(name: String, what: String): Unit = {
    failedCalls += name
    System.err.println(s"CHECK FAILED [$name] $what")
  }
}

/** Engine-boundary listener, registered only in the traced run. Turns jobs
  * and stages into spans (jobs parent onto the benchmark span named by the
  * job group; stages onto their job, named by call site without the line
  * number) and sums task metrics over the current window.
  */
final class EngineListener(tracer: Tracer) extends SparkListener {
  private final class StageAcc { var shuffleRead = 0L; val durMs = mutable.ArrayBuffer.empty[Long] }
  private var jobs = 0L; private var stages = 0L; private var tasks = 0L
  private var inputBytes = 0L; private var inputRows = 0L; private var outputBytes = 0L
  private var shuffleWrite = 0L; private var shuffleRead = 0L; private var spill = 0L
  private var cpuNs = 0L; private var gcMs = 0L
  private val perStage = mutable.Map.empty[Int, StageAcc]
  private val jobSpans = mutable.Map.empty[Int, (Int, Int, Long, String)]
  private val stageParent = mutable.Map.empty[Int, Int]
  private val stageSite = mutable.Map.empty[Int, String]
  // SQL executions carry the call site of the action that started them; the
  // jobs they run (including AQE stages submitted from pool threads) carry
  // the execution id
  private val sqlSite = mutable.Map.empty[Long, String]

  private def site(name: String): String = name.replaceAll(":\\d+$", "")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val parent = group.flatMap(_.toIntOption).getOrElse(0)
    val id = tracer.nextId()
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).flatMap(sqlSite.get)
    val where = sql.getOrElse(if (e.stageInfos.isEmpty) "?" else site(e.stageInfos.maxBy(_.stageId).name))
    jobSpans(e.jobId) = (id, parent, e.time * 1000L, s"job $where")
    e.stageIds.foreach { s => stageParent.getOrElseUpdate(s, id); stageSite.getOrElseUpdate(s, where) }
    jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { case (id, parent, start, name) =>
      tracer.record(Span(id, parent, name, "spark.job", start, e.time * 1000L, tracer.run))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages += 1
    for (s <- si.submissionTime; c <- si.completionTime)
      tracer.record(Span(tracer.nextId(), stageParent.getOrElse(si.stageId, 0),
        s"stage ${stageSite.getOrElse(si.stageId, site(si.name))}", "spark.stage", s * 1000L, c * 1000L, tracer.run))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlSite(s.executionId) = site(s.description) }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val acc = perStage.getOrElseUpdate(e.stageId, new StageAcc)
    acc.durMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      inputBytes += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
    }
  }

  /** Window totals since the last call; `wallS` is the window's wall time. */
  def take(wallS: Double, inBytes: Long, inDocs: Long, cores: Int): Map[String, Double] = synchronized {
    // max / median task time in the stage that read the most shuffle bytes
    val skew = perStage.values.filter(_.shuffleRead > 0).maxByOption(_.shuffleRead)
      .map { a =>
        val d = a.durMs.sorted
        d.last.toDouble / math.max(1L, d(d.size / 2))
      }.getOrElse(1.0)
    val out = Map(
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.input_bytes_ratio" -> inputBytes.toDouble / inBytes,
      "spark.input_rows_ratio" -> inputRows.toDouble / inDocs,
      "spark.output_bytes" -> outputBytes.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.spill_bytes" -> spill.toDouble, "spark.task_skew" -> skew,
      "spark.cpu_busy_ratio" -> cpuNs / 1e9 / (wallS * cores),
      "spark.gc_s" -> gcMs / 1e3)
    reset()
    out
  }

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; inputBytes = 0; inputRows = 0; outputBytes = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0; cpuNs = 0; gcMs = 0
    perStage.clear()
  }
}

/** Peak heap used right after a collection, over all heap pools, taken
  * from every GC notification since the last [[reset]].
  */
object HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          HeapPeak.synchronized { peak = math.max(peak, used) }
        }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMiB: Double = { val p: Long = synchronized(peak); p / 1048576.0 }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a finite number")
    java.lang.Double.toString(d)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Disk {
  /** Bytes of every regular file under the given paths. */
  def bytes(paths: Path*): Long = paths.filter(Files.exists(_)).map { p =>
    val s = Files.walk(p)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }.sum

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
