package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test suite build their
  * session here, so parallelism and session settings cannot drift apart.
  *
  * `local[cores]` with shuffle partitions = cores, UTC session time zone,
  * AQE on, UI off, WARN logging. `cores` comes from SPARK_GRAFT_CPUS, else
  * the JVM's available processors; SPARK_MASTER overrides the master. A
  * `local-cluster[executors,coresEach,memMb]` master runs real executor
  * JVMs, which do not inherit the driver's classloader: they get this
  * code's class directory or jar on their classpath and the build's heap
  * policy (a fixed, pre-touched heap, here the worker's whole memMb).
  */
object Session {

  private val LocalCluster = """local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*]""".r

  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def create(appName: String, cores: Int = Session.cores): SparkSession = {
    val master = sys.env.getOrElse("SPARK_MASTER", s"local[$cores]")
    val builder = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    master match {
      case LocalCluster(memMb) =>
        builder
          .config("spark.executor.extraClassPath",
            new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
              .getAbsolutePath)
          // without it the in-process Worker's launcher looks for a Spark build tree
          .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
          .config("spark.executor.memory", s"${memMb}m")
          .config("spark.executor.extraJavaOptions", s"-Xms${memMb}m -XX:+AlwaysPreTouch")
      case _ =>
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
