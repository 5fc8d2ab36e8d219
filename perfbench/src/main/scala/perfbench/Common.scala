package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.mutable

/** Command-line options, as passed by `perfbench/run.py`. */
final case class Options(workload: String, seed: Long, seconds: Int, trace: Boolean, workDir: Path) {
  /** CPUs this JVM may use (affinity and cgroup quota): Spark's
    * `local[n]` and the REST clients use that many threads. */
  val cores: Int = Runtime.getRuntime.availableProcessors()
  /** Shuffle and input partitions: two tasks per core, so a core that
    * loses time to the host does not hold up a whole stage. */
  val partitions: Int = 2 * cores
}

object Options {
  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Options(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      workDir = Path.of(need("work-dir")).toAbsolutePath)
  }
}

/** Diagnostics go to stderr, stamped with the JVM's uptime; stdout
  * carries only the result record. */
object Log {
  private val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${jvm.getUptime / 1e3}%7.2fs] $msg")
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  /** Runs `f`, returns (result, elapsed ms). */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, ms(t0))
  }
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)
}

/** One result record: the metrics of this run plus the operation
  * counts and the verdict of the output checks. */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }

  /** Records a failed output check; the run then reports correct=false. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      if (problems.length < 20) Log(s"CHECK FAILED: $what")
      problems += what
    }

  def correct: Boolean = problems.isEmpty

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${fmt(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Total bytes and file count of the regular files under `p`. */
  def du(p: Path, suffix: String = ""): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L
        var n = 0
        s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
          .forEach { f => bytes += Files.size(f); n += 1 }
        (bytes, n)
      } finally s.close()
    }
}
