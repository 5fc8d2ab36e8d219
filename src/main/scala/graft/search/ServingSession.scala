package graft.search

import scala.collection.immutable.ArraySeq
import scala.reflect.ClassTag

import graft.ann.Ann.IvfModel
import graft.search.PackedIndex.{CellBlock, VecBlock}

/** Resident serving path over a packed collection (VERDICT r3 §Next #1).
  *
  * The reference answers ONE query in 0.2–0.5 ms from its in-process
  * HNSW (`/root/reference/README.md` perf table); a Spark job — however
  * well-packed — pays a per-job scheduling floor of tens of ms, which is
  * fine for fleets (amortized) and 100× too slow for one interactive
  * query. This class closes that gap for collections that fit in driver
  * memory: it holds the SAME [[PackedIndex.VecBlock]]s /
  * [[PackedIndex.CellBlock]]s the distributed index scores and answers
  * queries by running [[Kernels.scoreTile]] locally — zero jobs, zero
  * scheduling, sub-ms at 100k × 64-D.
  *
  * Fleet results (nq ≥ 2) are bit-identical to the distributed path: the
  * blocks are the same bytes, [[Kernels.scoreTile]] is the same code
  * (row-independent arithmetic — thread chunking cannot change any
  * score), and the final merge applies the same `(score DESC, id ASC)`
  * rank. Single-query calls route to the faster [[Kernels.scoreSingle]]
  * (vectorized float lanes, different summation order): same ids/ranks
  * except near-ties, scores within the float tolerance documented on
  * [[Kernels.scoreTile]] (grows with dimension — ~1e-6 relative at
  * 64-D).
  *
  * Scale stance: this is the SERVING tier, deliberately bounded by
  * `maxBytes` (default 4 GiB ≈ 4 B rows at 64-D... practically: 15M
  * rows of 64-D floats). A collection that exceeds the cap stays on the
  * distributed [[PackedIndex]] path ([[ServingSession.fromExact]]
  * returns None and the caller falls back) — the cluster remains the
  * source of truth; this is a driver-held replica of a bounded working
  * set, the same trade a broadcast join makes.
  *
  * Thread-safety: a search allocates its own heaps/scratch; concurrent
  * searches share only the immutable blocks.
  */
object ServingSession {

  /** Default per-collection resident-footprint cap. Single source of
    * truth for the serving-tier budget — the engine cache
    * ([[graft.engine.FusionEngine]].DefaultServingBytes) aliases it. */
  val DefaultMaxBytes: Long = 4L << 30

  /** Work units (rows × queries) below this score single-threaded — the
    * fork-join handoff costs more than the scan itself. A 1-query search
    * of 2k rows stays inline; 10k+ rows (or any real fleet) fan out —
    * review r4 found the old 32k threshold kept the bench's own
    * 25k-row IVF probes sequential, slower than the exact parallel
    * scan of 4× the rows. */
  private val ParallelWorkThreshold = 8 * 1024

  /** Minimum row-equivalents of scan work per parallel worker. Fan-out
    * is work-proportional, not core-count-proportional. Measured with
    * the retired ServingProbe (r9 box, dim 64; the r15 100k sweep is in
    * docs/probes/serving100k_r15.txt): at 10k rows the scan is
    * cache-resident and task-fork cost dominates — 2 workers beat
    * 10 by ~25% (0.27 vs 0.37 ms p50); at 100k+ the scan is
    * DRAM-bound and memory-level parallelism wins — 24-32 workers sit
    * at the p50 minimum and fewer workers lose linearly. 4096 hits the
    * measured optimum at every probed scale (10k→2, 100k→24, 1M→32
    * workers). Overridable via `-Dgraft.serving.minRowsPerWorker` for
    * hosts where the fork-cost/bandwidth balance moves. */
  private def minRowsPerWorker: Long =
    try sys.props.getOrElse("graft.serving.minRowsPerWorker", "4096").toLong
    catch { case _: Throwable => 4096L }

  /** Worker count for `workRows` row-equivalents over `nBlocks` blocks:
    * capped by cores, blocks, and one worker per [[minRowsPerWorker]]. */
  private def workersFor(workRows: Long, nBlocks: Int): Int =
    math.min(
      math.min(Runtime.getRuntime.availableProcessors(), math.max(1, nBlocks)),
      math.max(1, (workRows / math.max(1L, minRowsPerWorker)).toInt))

  /** Probed codes below which the IVF-PQ scan stays serial. An ADC row
    * is `m` table adds rather than a dim-length float dot, so this sits
    * above [[ParallelWorkThreshold]]. */
  private val PqParallelThreshold = 64 * 1024

  private def rank(heaps: Array[Kernels.TopKHeap], qids: Array[Long],
                   k: Int): Seq[(Long, Long, Double, Int)] = {
    val out = Vector.newBuilder[(Long, Long, Double, Int)]
    var qi = 0
    while (qi < qids.length) {
      val buf = new scala.collection.mutable.ArrayBuffer[(Double, Long)](heaps(qi).size)
      heaps(qi).foreachEntry((s, id) => buf += ((s, id)))
      val sorted = buf.sortBy { case (s, id) => (-s, id) }
      var r = 0
      while (r < sorted.length && r < k) {
        out += ((qids(qi), sorted(r)._2, sorted(r)._1, r + 1))
        r += 1
      }
      qi += 1
    }
    out.result()
  }

  /** Merge worker-local heaps into `into` (same tie-breaking as the
    * distributed driver merge). */
  private def mergeInto(into: Array[Kernels.TopKHeap], from: Array[Kernels.TopKHeap]): Unit = {
    var qi = 0
    while (qi < into.length) {
      val dst = into(qi)
      from(qi).foreachEntry((s, id) => dst.offer(s, id))
      qi += 1
    }
  }

  /** Scores block `b` into `heaps` (one heap per query). */
  private trait BlockScan { def apply(b: Int, heaps: Array[Kernels.TopKHeap]): Unit }

  /** The one fan-out scan behind every resident session: score
    * `nBlocks` blocks into `nq` top-k heaps. Work (rows × queries)
    * under `threshold`, or a single worker by [[workersFor]], scans
    * inline; otherwise worker `t` of `w` takes the strided blocks `t,
    * t + w, t + 2w, …` on the common fork-join pool and the
    * worker-local heaps are merged. Heaps keep the total order (score
    * DESC, id ASC), so the merge order cannot change the rows.
    * `newScan` runs once per worker and returns that worker's block
    * scorer with its own scratch; read-only query state (packs,
    * quantized queries, LUTs) is built once by the caller and shared. */
  private def fanOut(nq: Int, k: Int, work: Long, nBlocks: Int,
                     threshold: Long = ParallelWorkThreshold)(
      newScan: () => BlockScan): Array[Kernels.TopKHeap] = {
    def scan(first: Int, stride: Int): Array[Kernels.TopKHeap] = {
      val heaps = Array.fill(nq)(new Kernels.TopKHeap(k))
      val score = newScan()
      var b = first
      while (b < nBlocks) { score(b, heaps); b += stride }
      heaps
    }
    val nThreads = workersFor(work, nBlocks)
    if (work < threshold || nThreads <= 1) scan(0, 1)
    else {
      val merged = Array.fill(nq)(new Kernels.TopKHeap(k))
      java.util.stream.IntStream.range(0, nThreads).parallel()
        .mapToObj(t => scan(t, nThreads))
        .collect(java.util.stream.Collectors.toList[Array[Kernels.TopKHeap]])
        .forEach(w => mergeInto(merged, w))
      merged
    }
  }

  /** `(‖q‖², 1/‖q‖)` as [[Kernels.scoreSingle]] takes them (0 for a
    * zero query). */
  private def norms(qv: Array[Float]): (Double, Double) = {
    var n2 = 0.0
    var d = 0
    while (d < qv.length) { n2 += qv(d).toDouble * qv(d); d += 1 }
    (n2, if (n2 > 0) 1.0 / math.sqrt(n2) else 0.0)
  }

  /** One query's probe: the blocks of its `nProbe` nearest cells in
    * probe order, the cell each block belongs to, and their row count. */
  private final class Probe[B](val blocks: Array[B], val cells: Array[Int], val rows: Long)

  private def probe[B <: PackedIndex.CellTile: ClassTag](
      model: IvfModel, cellBlocks: Array[Array[B]], qv: Array[Double],
      nProbe: Int): Probe[B] = {
    val blocks = Array.newBuilder[B]
    val cells = Array.newBuilder[Int]
    var rows = 0L
    model.nearestCells(ArraySeq.unsafeWrapArray(qv), nProbe).foreach { c =>
      if (c >= 0 && c < cellBlocks.length)
        cellBlocks(c).foreach { b => blocks += b; cells += c; rows += b.ids.length }
    }
    new Probe(blocks.result(), cells.result(), rows)
  }

  /** Probe-pruned search shared by the IVF sessions: per query, gather
    * the probed blocks and run one [[fanOut]] over them (the probe set
    * differs per query, so the fleet tile shape does not apply — a
    * 100k-collection probe at 25% still scans ~25k rows, so large
    * probes fan out). `scanFor(q, probe)` prepares the query once
    * (normalize, quantize, LUT) and returns the per-worker scorer of
    * `probe.blocks`, each scoring into `heaps(0)`. */
  private def probeSearch[B <: PackedIndex.CellTile: ClassTag](
      model: IvfModel, cellBlocks: Array[Array[B]],
      queries: Seq[(Long, Seq[Double])], k: Int, nProbe: Int,
      threshold: Long = ParallelWorkThreshold)(
      scanFor: (Array[Double], Probe[B]) => () => BlockScan): Seq[(Long, Long, Double, Int)] = {
    val qids = queries.map(_._1).toArray
    val heaps = queries.iterator.map { case (_, q) =>
      val qv = q.toArray
      val p = probe(model, cellBlocks, qv, nProbe)
      fanOut(1, k, p.rows, p.blocks.length, threshold)(scanFor(qv, p))(0)
    }.toArray
    rank(heaps, qids, k)
  }

  /** `(qid, id, score, rank)` → the `(id, score, rank)` of `searchOne`. */
  private def dropQid(rows: Seq[(Long, Long, Double, Int)]): Seq[(Long, Double, Int)] =
    rows.map { case (_, id, s, r) => (id, s, r) }

  /** Driver-local exact index: every block of the collection, scored
    * in-process. */
  final class Exact private[ServingSession] (val blocks: Array[VecBlock],
                                             val dim: Int, val n: Long) {

    /** Top-k per query: `(qid, id, score, rank)` — same rows the
      * distributed [[PackedIndex.Exact.search]] returns, no job.
      * Single-query calls route to [[Kernels.scoreSingle]] (vectorized
      * float lanes; near-tied ranks may differ from the fleet tile /
      * declarative paths within the documented float tolerance).
      *
      * Two options apply to a single query only. `mask` restricts the
      * scan to the rows whose id bit is set: a filtered query's
      * predicate, tested inside the kernel before each dot product, so
      * the result is the top-k of the kept rows and the fan-out sizes
      * on the mask's cardinality. `scored` receives the number of rows
      * scored. */
    def search(queries: Seq[(Long, Array[Double])], k: Int,
               m: VectorSearch.Metric = VectorSearch.Cosine,
               mask: java.util.BitSet = null,
               scored: java.util.concurrent.atomic.LongAdder = null): Seq[(Long, Long, Double, Int)] = {
      require(((mask eq null) && (scored eq null)) || queries.length == 1,
        "a row mask and a scored-rows count apply to one query")
      val qids = queries.map(_._1).toArray
      val qVecs = queries.map(_._2.map(_.toFloat)).toArray
      if (qids.isEmpty || blocks.isEmpty) return Seq.empty
      val code = PackedIndex.metricCode(m)
      val heaps =
        if (qids.length == 1) {
          val qv = qVecs(0)
          val (n2, invNorm) = norms(qv)
          val work = if (mask eq null) n else mask.cardinality().toLong
          fanOut(1, k, work, blocks.length) { () => (b, hs) =>
            val blk = blocks(b)
            val rows = Kernels.scoreSingle(code, qv, invNorm, n2, blk.xs, blk.ids,
              blk.ids.length, blk.norm2, hs(0), mask)
            if (scored ne null) scored.add(rows)
          }
        } else {
          // the query pack is read-only — built ONCE and shared by all
          // workers (review r4: packing per worker repeated the fleet
          // transpose nThreads times); rows × queries is the work
          val qp = Kernels.packQueries(qVecs)
          fanOut(qids.length, k, n * qids.length, blocks.length) { () =>
            val out = new Array[Float](qids.length)
            (b, hs) => {
              val blk = blocks(b)
              Kernels.scoreTile(code, qp, blk.xs, blk.ids, blk.ids.length, hs, out, blk.norm2)
            }
          }
        }
      rank(heaps, qids, k)
    }

    /** One interactive query: `(id, score, rank)` top-k. */
    def searchOne(q: Array[Double], k: Int,
                  m: VectorSearch.Metric = VectorSearch.Cosine): Seq[(Long, Double, Int)] =
      dropQid(search(Seq((0L, q)), k, m))
  }

  /** Driver-local SQ8 index: every code block of the collection,
    * scored in-process — the 4×-compressed rung between the float
    * [[Exact]] session and the PQ-8B [[IvfPq]] one (VERDICT r14 #4:
    * the FAISS-SQ8 serving point). Every row is visited (exact scan);
    * scoring is the SYMMETRIC integer cosine ([[Kernels.scoreSq8Tile]]
    * — query quantized once per search, scales cancel), so scores
    * carry both quantization errors; recall contract pinned in
    * ServingRecallSpec. Cosine-only, like the other compressed
    * sessions. */
  final class Sq8 private[ServingSession] (
      val blocks: Array[PackedIndex.Sq8Block], val dim: Int, val n: Long) {

    def search(queries: Seq[(Long, Array[Double])],
               k: Int): Seq[(Long, Long, Double, Int)] = {
      val qids = queries.map(_._1).toArray
      val qVecs = queries.map(_._2.map(_.toFloat)).toArray
      if (qids.isEmpty || blocks.isEmpty) return Seq.empty
      val heaps =
        if (qids.length == 1) {
          val sq = Kernels.quantizeSq8Query(qVecs(0))
          fanOut(1, k, n, blocks.length) { () => (b, hs) =>
            val blk = blocks(b)
            Kernels.scoreSq8Single(sq, blk.codes, blk.scales,
              blk.ids, blk.ids.length, blk.norm2, hs(0))
          }
        } else {
          val qp = Kernels.packSq8Queries(qVecs)
          fanOut(qids.length, k, n * qids.length, blocks.length) { () =>
            val out = new Array[Int](qids.length)
            (b, hs) => {
              val blk = blocks(b)
              Kernels.scoreSq8Tile(qp, blk.codes, blk.scales, blk.ids,
                blk.ids.length, hs, out, blk.norm2)
            }
          }
        }
      rank(heaps, qids, k)
    }

    def searchOne(q: Array[Double], k: Int): Seq[(Long, Double, Int)] =
      dropQid(search(Seq((0L, q)), k))
  }

  /** Driver-local IVF index: per-cell blocks, probe-pruned scoring. */
  final class Ivf private[ServingSession] (val model: IvfModel,
                                           val cellBlocks: Array[Array[CellBlock]],
                                           val dim: Int) {

    /** Cosine top-k per query over the probed cells only (per-query
      * [[Kernels.scoreSingle]] — the probe set differs per query, so the
      * fleet tile shape does not apply). */
    def search(queries: Seq[(Long, Seq[Double])], k: Int,
               nProbe: Int): Seq[(Long, Long, Double, Int)] =
      probeSearch(model, cellBlocks, queries, k, nProbe) { (qv, p) =>
        val qf = qv.map(_.toFloat)
        val (n2, invNorm) = norms(qf)
        () => (b, hs) => {
          val blk = p.blocks(b)
          Kernels.scoreSingle(Kernels.MetricCosine, qf, invNorm, n2,
            blk.xs, blk.ids, blk.ids.length, blk.norm2, hs(0))
        }
      }

    def searchOne(q: Seq[Double], k: Int, nProbe: Int): Seq[(Long, Double, Int)] =
      dropQid(search(Seq((0L, q)), k, nProbe))
  }

  /** Driver-local IVF×SQ8 index: per-cell SQ8 code blocks, probe-pruned
    * int8 scoring — the FAISS `IVF,SQ8` serving point (VERDICT r15 #5).
    * Per-query [[Kernels.scoreSq8Single]] (the probe set differs per
    * query, so the fleet tile shape does not apply — same stance as
    * [[Ivf]]); the query quantizes ONCE and is reused across its probed
    * blocks. Recall composes the cell-miss and quantization losses;
    * floor pinned in ServingRecallSpec. */
  final class IvfSq8 private[ServingSession] (
      val model: IvfModel,
      val cellBlocks: Array[Array[PackedIndex.Sq8CellBlock]], val dim: Int) {

    def search(queries: Seq[(Long, Seq[Double])], k: Int,
               nProbe: Int): Seq[(Long, Long, Double, Int)] =
      probeSearch(model, cellBlocks, queries, k, nProbe) { (qv, p) =>
        val sq = Kernels.quantizeSq8Query(qv.map(_.toFloat))
        () => (b, hs) => {
          val blk = p.blocks(b)
          Kernels.scoreSq8Single(sq, blk.codes, blk.scales,
            blk.ids, blk.ids.length, blk.norm2, hs(0))
        }
      }

    def searchOne(q: Seq[Double], k: Int, nProbe: Int): Seq[(Long, Double, Int)] =
      dropQid(search(Seq((0L, q)), k, nProbe))
  }

  /** Driver-local IVF-PQ index: per-cell CODE blocks scored by ADC —
    * `m` bytes/vector instead of `4·dim`, so the same [[DefaultMaxBytes]]
    * budget holds ~32× more rows (64-D, m=8) than the float sessions.
    * Scores are the quantized cosine; callers needing exact ordering
    * re-rank the candidates against the source table
    * ([[graft.ann.Pq.refine]] / [[PackedIndex.IvfPq.searchRefined]]). */
  final class IvfPq private[ServingSession] (
      val ivf: graft.ann.Ann.IvfModel, val pq: graft.ann.Pq.PqModel,
      val cellBlocks: Array[Array[PackedIndex.PqCellBlock]],
      val residual: Boolean = false) {

    /** A 10M-row probe at 12.5% scans 1.25M codes — ~30 ms serial, ~ms
      * fanned out; the LUT is read-only and shared by the workers.
      * Residual codes add the probe's `dot(q, centroid)` per block (see
      * [[PackedIndex.IvfPq]]). */
    def search(queries: Seq[(Long, Seq[Double])], k: Int,
               nProbe: Int): Seq[(Long, Long, Double, Int)] =
      probeSearch(ivf, cellBlocks, queries, k, nProbe, PqParallelThreshold) { (qv, p) =>
        val qf = graft.ann.Pq.l2normalize(qv.map(_.toFloat))
        val lut = pq.lookupTable(qf)
        val offs = p.cells.map(c =>
          if (residual) PackedIndex.qDotCentroid(qf, ivf.centroids(c)) else 0.0)
        val m = pq.m
        () => (bi, hs) => {
          val b = p.blocks(bi)
          val off = offs(bi)
          val h = hs(0)
          var r = 0
          while (r < b.ids.length) {
            h.offer(off + pq.adcScore(lut, b.codes, r * m), b.ids(r))
            r += 1
          }
        }
      }

    def searchOne(q: Seq[Double], k: Int, nProbe: Int): Seq[(Long, Double, Int)] =
      dropQid(search(Seq((0L, q)), k, nProbe))
  }

  /** FLEET-throughput crossover (VERDICT r7 #4). The driver-resident
    * session is unbeatable for SINGLE queries at any resident size —
    * no per-job scheduling floor — but a fleet amortizes that floor
    * across its queries, and past roughly this many resident rows the
    * distributed scan's parallelism wins: r7 bench (64-D, local[32])
    * measured serving 2,866 vs distributed 984 QPS at 100k rows but
    * 215 vs 251 at 1M. Midpoint of the measured bracket; overridable
    * per [[routed]] call for machines where the bracket moves. */
  val FleetCrossoverRows: Long = 512 * 1024

  /** True when a fleet of `nq` queries over `n` rows is expected to run
    * faster on the distributed path than the driver-resident one. */
  def preferDistributedFleet(n: Long, nq: Int,
                             crossoverRows: Long = FleetCrossoverRows): Boolean =
    nq > 1 && n >= crossoverRows

  /** The one routed dispatch behind [[Routed]], [[RoutedIvf]],
    * [[RoutedSq8]] and [[RoutedIvfSq8]]: a search answers on the
    * `resident` session unless there is none (the byte cap refused the
    * snapshot) or the handle prefers the cluster for this call; the
    * distributed answer is collected in resident row order
    * ([[collectRanked]]). Each handle adds only its search signature
    * and, for [[Routed]], the fleet crossover. */
  sealed abstract class RoutedHandle[S] private[ServingSession] (val resident: Option[S]) {
    @volatile private var _lastPath: String = ""
    /** "resident" | "distributed" — which path answered the latest
      * search (bench/test observability). */
    def lastPath: String = _lastPath

    protected final def dispatch(qids: Seq[Long], preferDistributed: Boolean = false)(
        onResident: S => Seq[(Long, Long, Double, Int)],
        onCluster: => org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
      resident match {
        case Some(s) if !preferDistributed =>
          _lastPath = "resident"
          onResident(s)
        case _ =>
          _lastPath = "distributed"
          collectRanked(onCluster, qids)
      }
  }

  /** Both exact paths under ONE handle, dispatched per call
    * (VERDICT r7 #4: the 1M crossover was documented in the bench but
    * the caller had to read it — now the handle routes): single queries
    * and small-corpus fleets go driver-resident, fleets at or past
    * [[FleetCrossoverRows]] (or any call when the resident snapshot
    * was refused by the byte cap) go distributed. Both paths return
    * the same rows — same blocks, same kernel, same `(score DESC,
    * id ASC)` rank (see [[Exact]]'s parity note). */
  final class Routed private[ServingSession] (
      val idx: PackedIndex.Exact,
      resident: Option[Exact],
      val crossoverRows: Long) extends RoutedHandle[Exact](resident) {
    def search(queries: Seq[(Long, Array[Double])], k: Int,
               m: VectorSearch.Metric = VectorSearch.Cosine): Seq[(Long, Long, Double, Int)] =
      dispatch(queries.map(_._1), preferDistributedFleet(idx.n, queries.length, crossoverRows))(
        _.search(queries, k, m), idx.search(queries, k, m))
  }

  /** Collect a distributed `(qid, id, score, rank)` result and order
    * it exactly like the resident sessions emit: input-query order,
    * rank ascending — so routed callers see identical row ORDER from
    * both dispatch paths, not just identical rows. Bounded: ≤ nq × k
    * rows. */
  private def collectRanked(df: org.apache.spark.sql.DataFrame,
                            qidOrder: Seq[Long]): Seq[(Long, Long, Double, Int)] = {
    val pos = qidOrder.zipWithIndex.toMap
    df.collect().iterator
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
      .sortBy { case (qid, _, _, rank) => (pos.getOrElse(qid, Int.MaxValue), rank) }
  }

  /** Routed serving over a packed exact index: pulls the resident
    * snapshot when it fits `maxBytes`, and dispatches each search per
    * [[preferDistributedFleet]]. This is the handle fleet callers
    * should hold instead of choosing a path themselves.
    *
    * CONTRACT: routing picks among EXACT paths only — every dispatch
    * returns the same rank-identical `(score DESC, id ASC)` rows, so a
    * caller can never observe different RESULTS from different corpus
    * sizes, only different latency. That is deliberate: an IVF-backed
    * arm would be faster past the crossover (r8 bench @1M: IVF
    * snapshot 674 QPS recall-1.0 vs distributed-exact 310 QPS) but
    * silently switching a caller from exact to approximate results
    * based on data volume is an API trap. Callers who accept the
    * approximate contract opt in EXPLICITLY with [[routedIvf]] (or a
    * raw [[fromIvf]] / [[fromIvfPq]] session) — the bench's
    * `ivf_fleet_qps` column tracks what that opt-in buys each round. */
  def routed(idx: PackedIndex.Exact, maxBytes: Long = DefaultMaxBytes,
             crossoverRows: Long = FleetCrossoverRows): Routed =
    new Routed(idx, fromExact(idx, maxBytes), crossoverRows)

  /** [[routed]] over an ALREADY-collected resident snapshot — callers
    * that hold one (engine cache, bench) skip the second collect. */
  def routedWith(idx: PackedIndex.Exact, resident: Option[Exact],
                 crossoverRows: Long = FleetCrossoverRows): Routed =
    new Routed(idx, resident, crossoverRows)

  /** The EXPLICIT approximate opt-in [[Routed]]'s scaladoc points at:
    * one handle over both IVF paths. Dispatch is byte-cap only — no
    * fleet crossover, because the resident IVF scan touches probed
    * cells only and stays ahead of the cluster path at every measured
    * size (r9 bench @1M: resident IVF fleet 720 QPS vs 309 for the
    * routed exact handle's distributed dispatch); the only reason to
    * leave the driver is the snapshot not fitting `maxBytes`. Both
    * paths run the same probes and kernel: identical ids/ranks, scores
    * within the documented float tolerance (PackedIndexSpec). Results
    * are APPROXIMATE at the configured `nProbe` — callers hold this
    * handle only when they accept that contract. */
  final class RoutedIvf private[ServingSession] (
      val idx: PackedIndex.Ivf,
      resident: Option[Ivf]) extends RoutedHandle[Ivf](resident) {
    def search(queries: Seq[(Long, Seq[Double])], k: Int,
               nProbe: Int): Seq[(Long, Long, Double, Int)] =
      dispatch(queries.map(_._1))(_.search(queries, k, nProbe), idx.search(queries, k, nProbe))
  }

  /** Routed approximate serving over a packed IVF index — see
    * [[RoutedIvf]] for the contract. */
  def routedIvf(idx: PackedIndex.Ivf, maxBytes: Long = DefaultMaxBytes): RoutedIvf =
    new RoutedIvf(idx, fromIvf(idx, maxBytes))

  /** The SQ8 twin of [[RoutedIvf]]: one handle over both SQ8 paths,
    * dispatch byte-cap only (the resident scan visits every row, so
    * no probe/crossover subtlety — leave the driver only when the
    * snapshot doesn't fit `maxBytes`). Results are APPROXIMATE by the
    * quantization step — callers hold this handle only when they
    * accept that contract (same explicit-opt-in stance as
    * [[routedIvf]]); both paths run the same blocks and kernel, so a
    * dispatch flip never changes the rows. */
  final class RoutedSq8 private[ServingSession] (
      val idx: PackedIndex.Sq8,
      resident: Option[Sq8]) extends RoutedHandle[Sq8](resident) {
    def search(queries: Seq[(Long, Array[Double])],
               k: Int): Seq[(Long, Long, Double, Int)] =
      dispatch(queries.map(_._1))(_.search(queries, k), idx.search(queries, k))
  }

  /** Routed quantized serving over a packed SQ8 index — see
    * [[RoutedSq8]] for the contract.
    *
    * ROUTING NOTE (VERDICT r16 #3): the full-scan SQ8 rung exists for
    * the 4× byte cap, not for latency — it still visits every row. A
    * deployment that accepts SQ8's quantization already accepts
    * [[routedIvfSq8]]'s, which prunes to probed cells and superseded
    * the full scan at every measured scale (1.13 ms vs 13.45 ms @1M
    * in BENCH_r16; recall 1.0 at the graded config). Above ~10⁶ rows
    * prefer `routedIvfSq8` (or `routedIvf` when float residency fits);
    * hold THIS handle when the corpus is small enough that scan
    * latency is immaterial or when cells cannot be trained (streaming
    * cold-start). The r17 int-query kernel pass (see
    * [[Kernels.scoreSq8Single]]) narrows the gap but does not change
    * the ranking — a pruned scan beats a full one. */
  def routedSq8(idx: PackedIndex.Sq8, maxBytes: Long = DefaultMaxBytes): RoutedSq8 =
    new RoutedSq8(idx, fromSq8(idx, maxBytes))

  /** The composed twin: one handle over both IVF×SQ8 paths. Dispatch is
    * byte-cap only (same reasoning as [[RoutedIvf]] — the resident scan
    * touches probed cells only and never loses to the cluster path at
    * resident sizes); results are APPROXIMATE both by nProbe and by the
    * int8 step — callers hold this handle only when they accept that
    * composed contract. Both paths run the same probes, blocks and
    * kernel, so a dispatch flip never changes the rows. */
  final class RoutedIvfSq8 private[ServingSession] (
      val idx: PackedIndex.IvfSq8,
      resident: Option[IvfSq8]) extends RoutedHandle[IvfSq8](resident) {
    def search(queries: Seq[(Long, Seq[Double])], k: Int,
               nProbe: Int): Seq[(Long, Long, Double, Int)] =
      dispatch(queries.map(_._1))(_.search(queries, k, nProbe), idx.search(queries, k, nProbe))
  }

  /** Routed cell-pruned-quantized serving over a packed IVF×SQ8 index —
    * see [[RoutedIvfSq8]] for the contract. */
  def routedIvfSq8(idx: PackedIndex.IvfSq8, maxBytes: Long = DefaultMaxBytes): RoutedIvfSq8 =
    new RoutedIvfSq8(idx, fromIvfSq8(idx, maxBytes))

  /** Estimated driver bytes for a packed collection: floats + ids +
    * norms per row. */
  private def exactBytes(n: Long, dim: Int): Long = n * (dim.toLong * 4 + 8 + 8)

  /** Driver bytes for a PQ-coded collection: codes + ids per row. */
  private def pqBytes(n: Long, m: Int): Long = n * (m.toLong + 8)

  /** Driver bytes for an SQ8 collection: codes + id + scale + norm
    * per row — ~4× under [[exactBytes]] at serving dims. */
  private def sq8Bytes(n: Long, dim: Int): Long = n * (dim.toLong + 8 + 8 + 8)

  /** Pack driver-resident rows into an [[Exact]] session directly — the
    * engine's serving-cache path, no RDD round-trip. Rows with null or
    * dimension-mismatched vectors are skipped (same stance as the
    * distributed pack). */
  def fromLocalRows(rows: Iterator[(Long, Array[Float])], dim: Int): Exact = {
    val blocks = PackedIndex.packRows(rows, dim).toArray
    val n = blocks.iterator.map(_.ids.length.toLong).sum
    new Exact(blocks, dim, n)
  }

  /** Compact collected blocks into full [[Kernels.TileRows]]-row tiles:
    * a Spark-partitioned source yields rows/partitions-sized fragments
    * (63-row blocks for 2k rows on 32 partitions), and per-block call
    * overhead + lost locality measurably tax small-collection serving.
    * Row ORDER is preserved, so scores, tie-breaks and results are
    * unchanged — only the block boundaries move. */
  private def repack(blocks: Array[VecBlock], dim: Int): Array[VecBlock] = {
    var total = 0L
    blocks.foreach(b => total += b.ids.length)
    if (total == 0) return Array.empty
    val out = Array.newBuilder[VecBlock]
    var dstN = math.min(Kernels.TileRows.toLong, total).toInt
    var dIds = new Array[Long](dstN)
    var dXs = new Array[Float](dstN * dim)
    var dN2 = new Array[Double](dstN)
    var dPos = 0
    var remaining = total
    blocks.foreach { b =>
      var sPos = 0
      val sN = b.ids.length
      while (sPos < sN) {
        val copy = math.min(sN - sPos, dstN - dPos)
        System.arraycopy(b.ids, sPos, dIds, dPos, copy)
        System.arraycopy(b.norm2, sPos, dN2, dPos, copy)
        System.arraycopy(b.xs, sPos * dim, dXs, dPos * dim, copy * dim)
        sPos += copy
        dPos += copy
        if (dPos == dstN) {
          out += VecBlock(dIds, dXs, dN2)
          remaining -= dstN
          dstN = math.min(Kernels.TileRows.toLong, remaining).toInt
          if (dstN > 0) {
            dIds = new Array[Long](dstN)
            dXs = new Array[Float](dstN * dim)
            dN2 = new Array[Double](dstN)
          }
          dPos = 0
        }
      }
    }
    out.result()
  }

  /** Pull a distributed exact index's blocks to the driver when they fit
    * in `maxBytes`; None = stay on the cluster path (caller falls back to
    * [[PackedIndex.Exact.search]]). Blocks are compacted to full tiles
    * ([[repack]]) — same rows, same order, better serving locality. */
  def fromExact(idx: PackedIndex.Exact, maxBytes: Long = DefaultMaxBytes): Option[Exact] =
    if (idx.n <= 0 || exactBytes(idx.n, idx.dim) > maxBytes) None
    else Some(new Exact(repack(idx.blocks.collect(), idx.dim), idx.dim, idx.n))

  /** Pack driver-resident rows straight into an [[Sq8]] session — the
    * 4×-compressed analog of [[fromLocalRows]] (same quantization rule
    * as the distributed pack; bit-parity pinned in PackedIndexSpec). */
  def fromLocalRowsSq8(rows: Iterator[(Long, Array[Float])], dim: Int): Sq8 = {
    val blocks = PackedIndex.packSq8Rows(rows, dim).toArray
    val n = blocks.iterator.map(_.ids.length.toLong).sum
    new Sq8(blocks, dim, n)
  }

  /** Pull a distributed SQ8 index's code blocks to the driver when
    * they fit `maxBytes` — the same budget knob admits ~4× the rows
    * of [[fromExact]] (VERDICT r14 #4: the ladder rung between float32
    * and PQ-8B). None = stay on the cluster path. */
  def fromSq8(idx: PackedIndex.Sq8, maxBytes: Long = DefaultMaxBytes): Option[Sq8] =
    if (idx.n <= 0 || sq8Bytes(idx.n, idx.dim) > maxBytes) None
    else Some(new Sq8(idx.blocks.collect(), idx.dim, idx.n))

  /** Driver-resident PQ serving: collect the CODE blocks (tiny — the
    * whole point) and group by cell. Same budget knob as the float
    * sessions; at m=8 it admits ~400M rows before refusing. */
  def fromIvfPq(idx: PackedIndex.IvfPq, maxBytes: Long = DefaultMaxBytes): Option[IvfPq] =
    residentCells(idx.n, pqBytes(idx.n, idx.pq.m), maxBytes, idx.blocks, idx.ivf.nCells)
      .map(new IvfPq(idx.ivf, idx.pq, _, idx.residual))

  /** Pull a distributed IVF×SQ8 index's code blocks to the driver when
    * they fit `maxBytes` — [[sq8Bytes]] sizing, so the same budget knob
    * admits ~4× the rows of [[fromIvf]]. None = stay on the cluster
    * path. */
  def fromIvfSq8(idx: PackedIndex.IvfSq8, maxBytes: Long = DefaultMaxBytes): Option[IvfSq8] =
    residentCells(idx.n, sq8Bytes(idx.n, idx.dim), maxBytes, idx.blocks, idx.model.nCells)
      .map(new IvfSq8(idx.model, _, idx.dim))

  /** Same for an IVF index: cell blocks grouped by cell id. The size
    * guard uses the index's build-time row count, so nothing is
    * collected when the collection is over the cap. */
  def fromIvf(idx: PackedIndex.Ivf, maxBytes: Long = DefaultMaxBytes): Option[Ivf] =
    residentCells(idx.n, exactBytes(idx.n, idx.dim), maxBytes, idx.blocks, idx.model.nCells)
      .map(new Ivf(idx.model, _, idx.dim))

  /** The one cell-grouping step of the IVF factories: collect a packed
    * cell index's blocks when its `bytes` estimate fits `maxBytes`
    * (None = stay on the cluster path), grouped by cell id in collect
    * order; blocks with an out-of-range cell are dropped. */
  private def residentCells[B <: PackedIndex.CellTile: ClassTag](
      n: Long, bytes: Long, maxBytes: Long,
      blocks: org.apache.spark.rdd.RDD[B], nCells: Int): Option[Array[Array[B]]] =
    if (n <= 0 || bytes > maxBytes) None
    else {
      val grouped = Array.fill(nCells)(Array.newBuilder[B])
      blocks.collect().foreach(b => if (b.cell >= 0 && b.cell < nCells) grouped(b.cell) += b)
      Some(grouped.map(_.result()))
    }
}
