package perfbench

import java.io.PrintStream
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work-dir DIR`.
  *
  * Prints exactly one line on stdout, `PERFBENCH_RESULT {…}`; everything
  * else (Spark's logging included) goes to stderr.
  *
  * Untraced, the named workload reports every end-to-end metric. Traced,
  * the run reports every per-layer metric, whichever workload is named: it
  * runs the traced breakdown of each workload in turn (`corpus_build`'s
  * includes the agent session), in one JVM and Spark session. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "serve_read" -> ServeRead,
    "corpus_build" -> CorpusBuild)
  val Traced: Seq[Workload] = Seq(ServeRead, CorpusBuild)

  def main(args: Array[String]): Unit = {
    val stdout = new PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err)
    val code =
      try Console.withOut(System.err) {
        val o = Options.parse(args)
        val w = Workloads.getOrElse(o.workload,
          throw new IllegalArgumentException(
            s"unknown workload ${o.workload}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
        Files2.deleteTree(o.workDir)
        Files.createDirectories(o.workDir)
        val spark = session(o)
        Log(s"spark session up (local[${o.cores}])")
        try {
          val counters = new SparkCounters
          spark.sparkContext.addSparkListener(counters)
          val r =
            if (!o.trace) w.run(spark, o, counters)
            else {
              val t = new Result
              Traced.foreach(_.traceInto(spark, o, counters, t))
              t
            }
          stdout.println("PERFBENCH_RESULT " + r.json)
          0
        } finally {
          spark.stop()
          Files2.deleteTree(o.workDir)
        }
      } catch {
        case e: Throwable =>
          System.err.println("perfbench failed:")
          e.printStackTrace(System.err)
          1
      }
    stdout.flush()
    System.exit(code) // non-daemon pools (HTTP server, Spark) must not keep the JVM up
  }

  private def session(o: Options): SparkSession = {
    val local = o.workDir.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.partitions.toString)
      .config("spark.default.parallelism", o.partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", o.workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One workload. `run` sets up, runs its closed loop for `o.seconds`,
  * checks the outputs, and returns a record of the end-to-end metrics.
  * `traceInto` runs a shorter traced pass and adds its per-layer metrics,
  * operation counts and checks to `r`. */
trait Workload {
  def run(spark: SparkSession, o: Options, counters: SparkCounters): Result
  def traceInto(spark: SparkSession, o: Options, counters: SparkCounters, r: Result): Unit
}
