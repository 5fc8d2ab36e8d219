package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work per job group. The benchmark sets a job group around each
  * operation it times ([[SparkCounters.charged]]); this listener charges
  * every job, completed stage and finished task of that group — with its
  * shuffle and spill bytes — to the group. These counts do not depend on
  * the machine's load, so a changed count means a changed plan. */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Work]()

  private def work(g: String): Work = totals.computeIfAbsent(g, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse(NoGroup)
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    work(g).synchronized(work(g).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, NoGroup)
    work(g).synchronized(work(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, NoGroup)
    val w = work(g)
    val m = e.taskMetrics
    w.synchronized {
      w.tasks += 1
      if (m != null) {
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Totals of one group so far (after draining the listener bus). */
  def of(sc: SparkContext, group: String): Work = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val w = totals.get(group)
    if (w == null) new Work else w.synchronized(w.copy())
  }

  /** Jobs of every group so far. */
  def allJobs(sc: SparkContext): Long = {
    org.apache.spark.PerfbenchBus.drain(sc)
    var n = 0L
    totals.values().forEach(w => n += w.jobs)
    n
  }
}

object SparkCounters {
  val GroupKey = "spark.jobGroup.id"
  val NoGroup = "(none)"

  final class Work {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    def copy(): Work = {
      val w = new Work
      w.jobs = jobs; w.stages = stages; w.tasks = tasks
      w.shuffleRead = shuffleRead; w.shuffleWrite = shuffleWrite; w.spill = spill
      w
    }
  }

  /** Runs `f` with every Spark job it starts on this thread charged to
    * `group`. */
  def charged[A](sc: SparkContext, group: String)(f: => A): A = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  /** Emits `<prefix>.jobs` … `<prefix>.spill_bytes`: the per-call median
    * of each counter over `calls` (each entry one call's work). */
  def emit(r: Result, prefix: String, calls: Seq[Work]): Unit = {
    def med(f: Work => Long): Double = Stats.median(calls.map(w => f(w).toDouble))
    r.metric(s"$prefix.jobs", med(_.jobs), "count")
    r.metric(s"$prefix.stages", med(_.stages), "count")
    r.metric(s"$prefix.tasks", med(_.tasks), "count")
    r.metric(s"$prefix.shuffle_read_bytes", med(_.shuffleRead), "B")
    r.metric(s"$prefix.shuffle_write_bytes", med(_.shuffleWrite), "B")
    r.metric(s"$prefix.spill_bytes", med(_.spill), "B")
  }
}
