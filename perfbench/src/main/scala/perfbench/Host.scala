package perfbench

import org.apache.spark.sql.SparkSession

/** Process-level probes and the two session builders, configured the way
  * users run the program. */
object Host {

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** CPU time of the whole process (all threads), in nanoseconds. */
  def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Fixed-work host-load probe, shaped like `graft.Bench`'s calibration at
    * a thirty-second of its size: a codegen'd hash spin on every core plus
    * a global sort. Its wall time read next to its CPU time separates a
    * contended host (wall up, cpu flat) from a regression. */
  final case class Calib(wallS: Double, cpuS: Double)
  def calibrate(spark: SparkSession): Calib = {
    val n = spark.sparkContext.defaultParallelism
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    spark.range(0L, 8000000L, 1L, n).selectExpr("max(xxhash64(id * 2654435761)) AS h").collect()
    spark.range(0L, 250000L, 1L, n).selectExpr("xxhash64(id) AS h").orderBy("h")
      .write.format("noop").mode("overwrite").save()
    Calib((System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
  }

  private def base(n: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")

  /** The query session exactly as `graft.Bench` builds it. */
  def querySession(n: Int): SparkSession = {
    val spark = graft.SessionDefaults.tune(base(n)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The ingest session exactly as `graft.ingest.IngestMain` builds it. */
  def ingestSession(n: Int): SparkSession = {
    val spark = base(n)
      .appName("graft-ingest")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A run must measure the program as shipped: no A/B overrides. */
  def refuseOverrides(spark: SparkSession): Unit = {
    val set = spark.conf.getAll.keys.filter(k => k.startsWith("graft.") || k.startsWith("spark.graft."))
    if (sys.env.contains("SPARK_GRAFT_CONF") || set.nonEmpty) {
      System.err.println("perfbench: refusing to run with SPARK_GRAFT_CONF or graft.* confs set: " +
        set.mkString(", "))
      sys.exit(3)
    }
  }

  private lazy val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)

  def readJson(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])
}
