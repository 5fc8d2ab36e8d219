package graft.tools

import graft.search.Kernels

/** In-band machine-speed canary for the bench artifact (VERDICT r6 #1):
  * the p50 of ONE deterministic single-thread kernel call —
  * `Kernels.scoreSingle` over a seeded 10k×64 float block, top-10 heap
  * — measured with the shared [[Timing]] protocol. The kernel has been
  * functionally frozen since r4, so this number moves ONLY with the
  * machine: environmental drift (shared-sandbox contention moved r5→r6
  * wall-clocks ~3× on unchanged code) becomes distinguishable from
  * regression INSIDE the artifact instead of by argument. Reference
  * points: ~0.31 ms on the r6/r7 sandbox, ~0.1 ms implied for the
  * r5-class machine (r5/r6 throughput ratio on unchanged kernels).
  *
  * Same block parameters as the first row of the retired KernelProbe
  * (docs/probes/HISTORY.md), so historical probe numbers line up with
  * the canary. */
object MachineCanary {

  /** (p50 ms, best ms) of the canary kernel call. */
  def measure(reps: Int = 200): (Double, Double) = {
    val dim = 64
    val n = 10000
    val rnd = new scala.util.Random(3)
    val xs = Array.fill(n * dim)(rnd.nextFloat() * 2 - 1)
    val ids = Array.tabulate(n)(_.toLong)
    val norm2 = Array.tabulate(n) { r =>
      var s = 0.0
      var d = 0
      while (d < dim) { val x = xs(r * dim + d).toDouble; s += x * x; d += 1 }
      s
    }
    val q = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    var qn2 = 0.0
    (0 until dim).foreach(d => qn2 += q(d).toDouble * q(d))
    val qInv = 1.0 / math.sqrt(qn2)
    // JIT warm beyond Timing's single warm call — the canary must
    // measure steady-state machine speed, not compilation
    (0 until 199).foreach { _ =>
      val h = new Kernels.TopKHeap(10)
      Kernels.scoreSingle(Kernels.MetricCosineUnit, q, qInv, qn2, xs, ids, n, norm2, h)
    }
    Timing.p50BestMs(reps) {
      val h = new Kernels.TopKHeap(10)
      Kernels.scoreSingle(Kernels.MetricCosineUnit, q, qInv, qn2, xs, ids, n, norm2, h)
    }
  }

  /** p50 wall-ms of 8 THREADS each scoring the canary block once (via
    * the common FJ pool, like the serving fan-out). On an idle
    * multi-core box this ≈ the single-thread p50; under core/bandwidth
    * contention it rises — the signal the single-thread canary cannot
    * see (r6's suite numbers degraded ~2× beyond what its single-thread
    * canary-equivalent showed). */
  def measureParallel(reps: Int = 50, nThreads: Int = 8): Double = {
    val dim = 64
    val n = 10000
    val rnd = new scala.util.Random(3)
    val xs = Array.fill(n * dim)(rnd.nextFloat() * 2 - 1)
    val ids = Array.tabulate(n)(_.toLong)
    val norm2 = Array.tabulate(n) { r =>
      var s = 0.0
      var d = 0
      while (d < dim) { val x = xs(r * dim + d).toDouble; s += x * x; d += 1 }
      s
    }
    val q = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    var qn2 = 0.0
    (0 until dim).foreach(d => qn2 += q(d).toDouble * q(d))
    val qInv = 1.0 / math.sqrt(qn2)
    def batch(): Unit = {
      java.util.stream.IntStream.range(0, nThreads).parallel().forEach { _ =>
        val h = new Kernels.TopKHeap(10)
        Kernels.scoreSingle(Kernels.MetricCosineUnit, q, qInv, qn2, xs, ids, n, norm2, h)
      }
    }
    (0 until 20).foreach(_ => batch()) // JIT + pool warm
    Timing.p50BestMs(reps)(batch())._1
  }

  /** Memory-BANDWIDTH canary (VERDICT r15 #3): best-of-reps GB/s of a
    * STREAM-style triad `a(i) = b(i) + s·c(i)` over three ~22 MB double
    * arrays (~67 MB working set — past any L3 on this box class, so the
    * sweep is DRAM-bound). The exact-scan serving rows are bandwidth-bound, not
    * compute-bound (docs/probes/serving100k_r15.txt: the 100k exact p50
    * floor tracks ~28 vs ~50 GB/s across boxes while the CPU canary
    * reads equal), so the artifact needs the bandwidth axis measured
    * in-band the way `measure()` pins the compute axis. STREAM's triad
    * byte convention: 24 B moved per element (read b, read c, write a —
    * write-allocate traffic not counted, matching published STREAM
    * numbers).
    *
    * @return (best sweep ms, best GB/s) */
  def measureBandwidth(reps: Int = 7): (Double, Double) = {
    val n = 2800000 // 2.8M doubles per array = 22.4 MB; ~67 MB total
    val a = new Array[Double](n)
    val b = Array.tabulate(n)(i => (i % 1024) * 0.5)
    val c = Array.tabulate(n)(i => (i % 512) * 0.25)
    val s = 3.0
    def sweep(): Unit = {
      var i = 0
      while (i < n) { a(i) = b(i) + s * c(i); i += 1 }
    }
    (0 until 3).foreach(_ => sweep()) // JIT + page warm
    var bestMs = Double.MaxValue
    (0 until reps).foreach { _ =>
      val t0 = System.nanoTime()
      sweep()
      val ms = (System.nanoTime() - t0) / 1e6
      if (ms < bestMs) bestMs = ms
    }
    val gbps = (24.0 * n) / (bestMs * 1e6) // bytes / (ms * 1e6) = GB/s
    // keep `a` observable so the JIT cannot dead-code the store loop
    if (a(n / 2).isNaN) throw new IllegalStateException("unreachable")
    (bestMs, gbps)
  }

  /** Sustained par8 run WITH OS attribution (round 9): the par8/single
    * ratio alone cannot distinguish an external tenant holding cores
    * from this box's own idle-state parallel-wake cost — measured here
    * at ratio ≈ 2.3-2.9 on a PROVEN-idle guest (steal 0.0%, external
    * busy ≈ 0%, single-thread at the historical 0.31 ms), where a
    * ratio-only gate would wait forever and then stamp a clean run
    * non-evidentiary. So: run the par8 kernel continuously for
    * `windowMs` and sample `/proc/stat` + `/proc/self/stat` across the
    * window. Steal (hypervisor denying vCPU time) or external busy
    * (another PROCESS on the guest burning cpu) during the window is
    * real contention; their absence while the ratio is high means the
    * slowdown is the platform's own scheduling/SMT characteristic and
    * the numbers are evidentiary.
    *
    * @return (par8 p50 ms over the window, steal %, external busy %);
    *         percentages are -1 when /proc is unavailable (non-Linux). */
  def measureParallelAttributed(windowMs: Long = 1500,
                                nThreads: Int = 8): (Double, Double, Double) = {
    def cpuTotals(): Option[Array[Long]] = try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      Some(line.trim.split("\\s+").drop(1).take(10).map(_.toLong))
    } catch { case _: Throwable => None }
    def selfTicks(): Option[Long] = try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
      // utime/stime are overall fields 14/15; after "(comm) " the state
      // field is index 0, so they land at indices 11/12
      val after = s.substring(s.lastIndexOf(')') + 2).split(" ")
      Some(after(11).toLong + after(12).toLong)
    } catch { case _: Throwable => None }

    val dim = 64
    val n = 10000
    val rnd = new scala.util.Random(3)
    val xs = Array.fill(n * dim)(rnd.nextFloat() * 2 - 1)
    val ids = Array.tabulate(n)(_.toLong)
    val norm2 = Array.tabulate(n) { r =>
      var s = 0.0
      var d = 0
      while (d < dim) { val x = xs(r * dim + d).toDouble; s += x * x; d += 1 }
      s
    }
    val q = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    var qn2 = 0.0
    (0 until dim).foreach(d => qn2 += q(d).toDouble * q(d))
    val qInv = 1.0 / math.sqrt(qn2)
    def batch(): Unit = {
      java.util.stream.IntStream.range(0, nThreads).parallel().forEach { _ =>
        val h = new Kernels.TopKHeap(10)
        Kernels.scoreSingle(Kernels.MetricCosineUnit, q, qInv, qn2, xs, ids, n, norm2, h)
      }
    }
    (0 until 20).foreach(_ => batch()) // JIT + pool warm

    val cpu0 = cpuTotals()
    val self0 = selfTicks()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < windowMs * 1000000L) {
      val b0 = System.nanoTime()
      batch()
      times += (System.nanoTime() - b0) / 1e6
    }
    val cpu1 = cpuTotals()
    val self1 = selfTicks()

    val sorted = times.sorted
    val p50 = sorted(sorted.length / 2)
    (cpu0, cpu1, self0, self1) match {
      case (Some(a), Some(b), Some(sa), Some(sb)) =>
        val d = a.indices.map(i => b(i) - a(i))
        val total = math.max(1L, d.sum)
        // user+nice+system+irq+softirq minus our own process's ticks =
        // cycles OTHER processes on the guest burned during the window
        val busy = d(0) + d(1) + d(2) + d(5) + d(6)
        val external = math.max(0L, busy - (sb - sa))
        val steal = d(7)
        (p50, 100.0 * steal / total, 100.0 * external / total)
      case _ => (p50, -1.0, -1.0)
    }
  }
}
