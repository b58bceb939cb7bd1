package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Where the benchmark reads and writes, and the one Spark session it
  * drives. Everything lives under the checkout: the fixture data in
  * `perfbench/data`, scratch output in `.bench_build`. */
object Env {
  val root: Path = Paths.get(sys.props.getOrElse("perfbench.root", ".")).toAbsolutePath.normalize
  val benchDir: Path = root.resolve("perfbench")
  val dataDir: Path = benchDir.resolve("data")
  val work: Path = root.resolve(".bench_build")

  /** Cores the run may use: `local[nproc]`, shuffle partitions = nproc. */
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Fixture directory of a scale factor (`sf0.01`, ...). */
  def sf(name: String): String = dataDir.resolve(name).toString

  def session(runId: String): SparkSession = {
    val scratch = work.resolve("run").resolve(runId)
    Files.createDirectories(scratch)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.checkpoint.dir", scratch.resolve("checkpoint").toString)
      // `graft.Tables.events` sets these two on first use; set up front,
      // every fixture view reads timestamps the same way whatever was
      // loaded before it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.install(spark)
    spark
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Milliseconds since this JVM started. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
