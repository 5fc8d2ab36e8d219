package graft.search

/** Primitive scoring kernels for the batched-kNN hot path.
  *
  * The reference answers its bench fleet from an in-memory HNSW graph at
  * ~2,000 QPS single-node (`/root/reference/README.md` perf table); the
  * Spark equivalent is a scan that scores every (row, query) pair. Scoring
  * a Q-query fleet against a row tile is a (Q × dim) · (dim × rows) matrix
  * multiply — this file implements it as a hand-tiled float kernel
  * (VERDICT r2 §Performance: netlib BLAS is unavailable in-container, and
  * the previous scalar-double + boxed-tuple-heap loop was the bottleneck).
  *
  * Layout: queries are packed TRANSPOSED (`qT(d * nq + qi)`), so the inner
  * loop per (row, dim-slot) is an independent multiply-add over contiguous
  * floats — a SAXPY the JIT auto-vectorizes (no float reduction across the
  * dim axis, which HotSpot refuses to vectorize). Top-K selection uses a
  * bounded binary min-heap over primitive parallel arrays: candidate
  * rejection is one compare against the root, no boxing, no allocation.
  */
object Kernels {

  /** Score tolerance when comparing a FLOAT-kernel score (scoreTile /
    * the packed indexes — single-precision accumulation) against a
    * double-precision rescore of the same row (Pq.refine, the SQL
    * cosine): the two legitimately differ by ~1e-7..1e-6 on unit
    * vectors. Any recall gate spanning the two pipelines must allow
    * this slack — a 1e-9 slack silently misreported refined PQ recall
    * as 0.53 when the candidate sets were actually ≥ 0.93 (r6 root
    * cause). 1e-5 stays three orders below real top-k score gaps
    * (~1e-2 on the bench corpora), so it cannot mask a genuine miss. */
  val FloatScoreTolerance: Double = 1e-5

  final val MetricCosine = 0
  final val MetricCosineUnit = 1
  final val MetricDot = 2
  final val MetricEuclidean = 3

  /** Bounded top-K selector: a binary min-heap over primitive parallel
    * arrays whose root is the WORST kept entry — lowest score, ties
    * broken by largest id — so the kept set equals
    * `ORDER BY score DESC, id ASC LIMIT k`. */
  final class TopKHeap(val k: Int) {
    private val hs = new Array[Double](math.max(k, 1))
    private val hid = new Array[Long](math.max(k, 1))
    private var n = 0
    def size: Int = n

    // (s1,id1) ranks strictly worse than (s2,id2)
    @inline private def worse(s1: Double, id1: Long, s2: Double, id2: Long): Boolean =
      s1 < s2 || (s1 == s2 && id1 > id2)

    def offer(s: Double, id: Long): Unit = {
      if (n < k) {
        var i = n
        n += 1
        hs(i) = s; hid(i) = id
        var sifting = i > 0
        while (sifting) {
          val p = (i - 1) >> 1
          if (worse(hs(i), hid(i), hs(p), hid(p))) {
            val ts = hs(i); val tid = hid(i)
            hs(i) = hs(p); hid(i) = hid(p)
            hs(p) = ts; hid(p) = tid
            i = p
            sifting = i > 0
          } else sifting = false
        }
      } else if (worse(hs(0), hid(0), s, id)) {
        hs(0) = s; hid(0) = id
        var i = 0
        var sifting = true
        while (sifting) {
          val l = 2 * i + 1
          val r = l + 1
          var m = i
          if (l < n && worse(hs(l), hid(l), hs(m), hid(m))) m = l
          if (r < n && worse(hs(r), hid(r), hs(m), hid(m))) m = r
          if (m != i) {
            val ts = hs(i); val tid = hid(i)
            hs(i) = hs(m); hid(i) = hid(m)
            hs(m) = ts; hid(m) = tid
            i = m
          } else sifting = false
        }
      }
    }

    def foreachEntry(f: (Double, Long) => Unit): Unit = {
      var i = 0
      while (i < n) { f(hs(i), hid(i)); i += 1 }
    }
  }

  /** Query fleet packed for the kernel: transposed matrix + hoisted
    * norms. `invNorm` is 0 for a zero vector (score degrades to 0, as
    * the declarative path's NaN-free division does not — callers feed
    * non-degenerate queries). */
  final class QueryPack(val nq: Int, val dim: Int, val qT: Array[Float],
                        val invNorm: Array[Double], val norm2: Array[Double])

  def packQueries(qVecs: Array[Array[Float]]): QueryPack = {
    val nq = qVecs.length
    val dim = if (nq == 0) 0 else qVecs(0).length
    val qT = new Array[Float](nq * dim)
    val invNorm = new Array[Double](nq)
    val norm2 = new Array[Double](nq)
    var qi = 0
    while (qi < nq) {
      val q = qVecs(qi)
      var d = 0
      var n2 = 0.0
      while (d < dim) {
        val x = q(d)
        qT(d * nq + qi) = x
        n2 += x.toDouble * x
        d += 1
      }
      norm2(qi) = n2
      invNorm(qi) = if (n2 > 0) 1.0 / math.sqrt(n2) else 0.0
      qi += 1
    }
    new QueryPack(nq, dim, qT, invNorm, norm2)
  }

  /** Score `nRows` packed rows against the fleet and push into heaps.
    * `heaps(qi)` receives query `qi`'s candidates (pass subset-aligned
    * references for IVF). `out` is caller-owned scratch of ≥ nq floats.
    * `norm2` (optional): precomputed per-row squared norms — a prebuilt
    * index computes them once at pack time instead of once per fleet.
    *
    * Dot products accumulate in SINGLE precision (`out` is float — the
    * price of the vectorizable SAXPY layout), and Euclidean uses the
    * cancellation-prone norm identity: near-tied candidates may rank
    * differently than a double-precision rescore (ADVICE r3 — tolerance
    * documented at the public call sites). */
  def scoreTile(metric: Int, qp: QueryPack, xs: Array[Float], ids: Array[Long],
                nRows: Int, heaps: Array[TopKHeap], out: Array[Float],
                norm2: Array[Double] = null): Unit = {
    val nq = qp.nq
    val dim = qp.dim
    val qT = qp.qT
    var r = 0
    while (r < nRows) {
      val off = r * dim
      java.util.Arrays.fill(out, 0, nq, 0f)
      var d = 0
      while (d < dim) {
        val vd = xs(off + d)
        val qrow = d * nq
        var qi = 0
        while (qi < nq) { out(qi) += vd * qT(qrow + qi); qi += 1 }
        d += 1
      }
      val id = ids(r)
      @inline def rowNorm2: Double =
        if (norm2 ne null) norm2(r)
        else {
          var vn2 = 0.0
          var d2 = 0
          while (d2 < dim) { val x = xs(off + d2).toDouble; vn2 += x * x; d2 += 1 }
          vn2
        }
      metric match {
        case MetricCosine =>
          val vn2 = rowNorm2
          val inv = if (vn2 > 0) 1.0 / math.sqrt(vn2) else 0.0
          var qi = 0
          while (qi < nq) {
            heaps(qi).offer(out(qi) * inv * qp.invNorm(qi), id)
            qi += 1
          }
        case MetricCosineUnit =>
          var qi = 0
          while (qi < nq) { heaps(qi).offer(out(qi).toDouble, id); qi += 1 }
        case MetricDot =>
          var qi = 0
          while (qi < nq) { heaps(qi).offer(1.0 + out(qi), id); qi += 1 }
        case MetricEuclidean =>
          val vn2 = rowNorm2
          var qi = 0
          while (qi < nq) {
            val sq = qp.norm2(qi) + vn2 - 2.0 * out(qi)
            heaps(qi).offer(1.0 - math.sqrt(if (sq > 0) sq else 0.0), id)
            qi += 1
          }
      }
      r += 1
    }
  }

  /** Single-query top-k kernel over packed rows — the serving path's
    * interactive shape. The fleet tile kernel degenerates at nq = 1 (its
    * per-dim SAXPY becomes a store-load dependency chain through a
    * 1-element scratch array); this loop keeps four independent FLOAT
    * accumulator lanes in registers — the SLP pattern HotSpot
    * auto-vectorizes (measured 2.5× over double lanes at 64-D).
    * Dot/cosine accumulate in single precision with a different
    * summation order than both the fleet tile and the declarative path:
    * near-tied ranks may differ within the tolerance documented on
    * [[scoreTile]]. EUCLIDEAN accumulates in DOUBLE lanes: the norm
    * identity `‖q‖² + ‖v‖² − 2·dot` cancels catastrophically for
    * near-duplicate vectors, and a float dot's absolute error passes
    * through the sqrt amplified — the double path keeps near-dup
    * ranking at declarative precision (the cancellation itself is
    * inherent to the identity and documented on [[scoreTile]]).
    *
    * `invNormQ` = 1/‖q‖ (0 for a zero query), `norm2Q` = ‖q‖².
    *
    * `mask` (optional) is a filtered query's row predicate, indexed by
    * row id: a row whose id bit is clear is skipped before its dot
    * product, and each run of kept rows goes through the same loop an
    * unmasked call runs, so a kept row's score and the heap's top-k
    * are exactly those of the unmasked kernel over the kept rows.
    * Returns the number of rows scored. */
  def scoreSingle(metric: Int, q: Array[Float], invNormQ: Double, norm2Q: Double,
                  xs: Array[Float], ids: Array[Long], n: Int,
                  norm2: Array[Double], heap: TopKHeap,
                  mask: java.util.BitSet = null): Int =
    if (mask eq null) {
      scoreRows(metric, q, invNormQ, norm2Q, xs, ids, 0, n, norm2, heap)
      n
    } else {
      var scored = 0
      var r = 0
      while (r < n) {
        if (mask.get(ids(r).toInt)) {
          val from = r
          r += 1
          while (r < n && mask.get(ids(r).toInt)) r += 1
          scoreRows(metric, q, invNormQ, norm2Q, xs, ids, from, r, norm2, heap)
          scored += r - from
        } else r += 1
      }
      scored
    }

  /** [[scoreSingle]]'s loop over rows `from until until`. The mask
    * test stays outside it: testing the mask inside this loop, once the
    * JIT had also seen masked calls, made unmasked scans 15-30 % slower
    * (10k × 64-D, both variants in one JVM on a 4-vCPU VM). */
  private def scoreRows(metric: Int, q: Array[Float], invNormQ: Double, norm2Q: Double,
                        xs: Array[Float], ids: Array[Long], from: Int, until: Int,
                        norm2: Array[Double], heap: TopKHeap): Unit = {
    val dim = q.length
    val euclid = metric == MetricEuclidean
    var r = from
    while (r < until) {
      val off = r * dim
      var dot = 0.0
      if (euclid) {
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var d = 0
        val lim = dim - 3
        while (d < lim) {
          s0 += xs(off + d).toDouble * q(d)
          s1 += xs(off + d + 1).toDouble * q(d + 1)
          s2 += xs(off + d + 2).toDouble * q(d + 2)
          s3 += xs(off + d + 3).toDouble * q(d + 3)
          d += 4
        }
        while (d < dim) { s0 += xs(off + d).toDouble * q(d); d += 1 }
        dot = (s0 + s1) + (s2 + s3)
      } else {
        var s0 = 0f; var s1 = 0f; var s2 = 0f; var s3 = 0f
        var d = 0
        val lim = dim - 3
        while (d < lim) {
          s0 += xs(off + d) * q(d)
          s1 += xs(off + d + 1) * q(d + 1)
          s2 += xs(off + d + 2) * q(d + 2)
          s3 += xs(off + d + 3) * q(d + 3)
          d += 4
        }
        while (d < dim) { s0 += xs(off + d) * q(d); d += 1 }
        dot = ((s0 + s1) + (s2 + s3)).toDouble
      }
      val id = ids(r)
      @inline def rowNorm2: Double =
        if (norm2 ne null) norm2(r)
        else {
          var vn2 = 0.0
          var d2 = 0
          while (d2 < dim) { val x = xs(off + d2).toDouble; vn2 += x * x; d2 += 1 }
          vn2
        }
      metric match {
        case MetricCosine =>
          val vn2 = rowNorm2
          val inv = if (vn2 > 0) 1.0 / math.sqrt(vn2) else 0.0
          heap.offer(dot * inv * invNormQ, id)
        case MetricCosineUnit => heap.offer(dot, id)
        case MetricDot => heap.offer(1.0 + dot, id)
        case MetricEuclidean =>
          val sq = norm2Q + rowNorm2 - 2.0 * dot
          heap.offer(1.0 - math.sqrt(if (sq > 0) sq else 0.0), id)
      }
      r += 1
    }
  }

  /** SQ8 scoring is SYMMETRIC (r15): the query is quantized once per
    * search with the same ScalarQuant rule as the rows, and the score
    * is the INTEGER cosine of the two code vectors —
    *
    *   score = Σ qc_d·vc_d / (√Σqc²  · √Σvc²)
    *
    * because cos(q̂, v̂) with q̂ = qscale·qc, v̂ = vscale·vc cancels BOTH
    * scales. The int8×int8 multiply-add lanes are the SDOT shape
    * HotSpot vectorizes; measured (docs/probes/benchdiff_r17.txt, 64-D): 0.8× the
    * float kernel's time at 100k rows and 0.5× at 1M (bandwidth-bound
    * — the scan reads 4× fewer bytes), where the first-cut asymmetric
    * form (per-element byte→float widening inside the lanes) ran
    * 1.5-2× SLOWER than float at every scale. Scores carry both
    * quantization errors (~1e-3 on unit 64-D vectors); the serving
    * recall contract is pinned in ServingRecallSpec. */
  final class Sq8Query(val codes: Array[Byte], val invNorm: Double)

  /** Quantize a float query with the ScalarQuant rule; `invNorm` is
    * the CODE-space inverse norm 1/√Σcode² (scales cancel — scaladoc
    * above). Zero query → invNorm 0 → every score 0. */
  def quantizeSq8Query(q: Array[Float]): Sq8Query = {
    val dim = q.length
    var mx = 0.0
    var d = 0
    while (d < dim) { val a = math.abs(q(d).toDouble); if (a > mx) mx = a; d += 1 }
    val sc = mx / 127.0
    val qc = new Array[Byte](dim)
    var ss = 0L
    d = 0
    while (d < dim) {
      val v =
        if (sc > 0.0) {
          val f = math.floor(q(d).toDouble / sc + 0.5)
          (if (f < -127.0) -127.0 else if (f > 127.0) 127.0 else f).toInt
        } else 0
      qc(d) = v.toByte
      ss += v.toLong * v
      d += 1
    }
    new Sq8Query(qc, if (ss > 0) 1.0 / math.sqrt(ss.toDouble) else 0.0)
  }

  /** Fleet of SQ8-quantized queries packed TRANSPOSED for the tile
    * kernel (the int-widened analog of [[QueryPack]] — codes live in
    * [-127, 127] but are stored as int so the tile inner loop loads
    * plain ints instead of sign-extending a byte per multiply; same
    * finding as [[scoreSq8Single]]'s r17 kernel pass, and the pack is
    * query-fleet-sized so the 4× widening costs nothing that
    * matters). */
  final class Sq8QueryPack(val nq: Int, val dim: Int, val qT: Array[Int],
                           val invNorm: Array[Double])

  def packSq8Queries(qVecs: Array[Array[Float]]): Sq8QueryPack = {
    val nq = qVecs.length
    val dim = if (nq == 0) 0 else qVecs(0).length
    val qT = new Array[Int](nq * dim)
    val invNorm = new Array[Double](nq)
    var qi = 0
    while (qi < nq) {
      val sq = quantizeSq8Query(qVecs(qi))
      var d = 0
      while (d < dim) { qT(d * nq + qi) = sq.codes(d).toInt; d += 1 }
      invNorm(qi) = sq.invNorm
      qi += 1
    }
    new Sq8QueryPack(nq, dim, qT, invNorm)
  }

  /** Score `nRows` SQ8-coded rows against a quantized fleet — the int8
    * twin of [[scoreTile]]: same transposed-query SAXPY layout with
    * int accumulators (`out`, caller-owned scratch ≥ nq ints). The
    * row-side inverse code norm is `scales(r)/√norm2(r)` (= 1/√Σvc² —
    * the stored block fields are unchanged from the asymmetric cut). */
  def scoreSq8Tile(qp: Sq8QueryPack, codes: Array[Byte], scales: Array[Double],
                   ids: Array[Long], nRows: Int, heaps: Array[TopKHeap],
                   out: Array[Int], norm2: Array[Double]): Unit = {
    val nq = qp.nq
    val dim = qp.dim
    val qT = qp.qT
    var r = 0
    while (r < nRows) {
      val off = r * dim
      java.util.Arrays.fill(out, 0, nq, 0)
      var d = 0
      while (d < dim) {
        val vd: Int = codes(off + d)
        val qrow = d * nq
        var qi = 0
        while (qi < nq) { out(qi) += vd * qT(qrow + qi); qi += 1 }
        d += 1
      }
      val id = ids(r)
      val vn2 = norm2(r)
      val inv = if (vn2 > 0) scales(r) / math.sqrt(vn2) else 0.0
      var qi = 0
      while (qi < nq) {
        heaps(qi).offer(out(qi) * inv * qp.invNorm(qi), id)
        qi += 1
      }
      r += 1
    }
  }

  /** Single-query integer-cosine top-k over SQ8 codes: four int
    * multiply-add lanes (the SDOT shape).
    *
    * The query codes are widened to int[] ONCE here (r17 kernel pass,
    * VERDICT r16 #3): with a byte[] query BOTH operands of every
    * multiply sign-extend, and the r17 SQ8 probe (ledger:
    * docs/probes/benchdiff_r17.txt) measured that second extension as
    * the chain's bottleneck — the int-query variant runs
    * 1.4-1.6× faster at every probed scale (1M×64: 28.4 vs 44.0 ms;
    * 1M×128: 50.3 vs 58.4; 100k×64: 2.53 vs 3.81 — at or below the
    * float kernel's time everywhere, restoring the 4×-fewer-bytes
    * advantage the compressed rung exists for). Rejected in the same
    * probe: long-read byte extraction (3× slower — shift chains beat
    * the saved bounds checks), short[] codes (no gain, 2× the bytes),
    * un-unrolled reduction (C2 does not SLP-vectorize the b2i
    * multiply; the manual lanes win). */
  def scoreSq8Single(q: Sq8Query, codes: Array[Byte], scales: Array[Double],
                     ids: Array[Long], n: Int, norm2: Array[Double],
                     heap: TopKHeap): Unit = {
    val qb = q.codes
    val qc = new Array[Int](qb.length)
    var j = 0
    while (j < qb.length) { qc(j) = qb(j).toInt; j += 1 }
    val invQ = q.invNorm
    val dim = qc.length
    var r = 0
    while (r < n) {
      val off = r * dim
      var s0 = 0; var s1 = 0; var s2 = 0; var s3 = 0
      var d = 0
      val lim = dim - 3
      while (d < lim) {
        s0 += codes(off + d) * qc(d)
        s1 += codes(off + d + 1) * qc(d + 1)
        s2 += codes(off + d + 2) * qc(d + 2)
        s3 += codes(off + d + 3) * qc(d + 3)
        d += 4
      }
      while (d < dim) { s0 += codes(off + d) * qc(d); d += 1 }
      val dot = ((s0 + s1) + (s2 + s3)).toDouble
      val vn2 = norm2(r)
      val inv = if (vn2 > 0) scales(r) / math.sqrt(vn2) else 0.0
      heap.offer(dot * inv * invQ, ids(r))
      r += 1
    }
  }

  /** Rows per scoring tile — sized so tile floats (tile × dim × 4 B) stay
    * L2-resident at typical dims. */
  val TileRows = 1024

  /** Exact top-K over a row iterator (one Spark partition): pack rows
    * into tiles, gemm each tile against the fleet, drain heaps.
    * Returns `(qid, id, score)` triples, ≤ k per query from this
    * partition. */
  def topkOverRows(rows: Iterator[(Long, Array[Float])],
                   qids: Array[Long], qVecs: Array[Array[Float]],
                   k: Int, metric: Int): Iterator[(Long, Long, Double)] = {
    val nq = qids.length
    if (nq == 0 || rows.isEmpty) return Iterator.empty
    val qp = packQueries(qVecs)
    val dim = qp.dim
    val heaps = Array.fill(nq)(new TopKHeap(k))
    val xs = new Array[Float](TileRows * dim)
    val ids = new Array[Long](TileRows)
    val out = new Array[Float](nq)
    var n = 0
    rows.foreach { case (id, v) =>
      // dimension-mismatched rows are skipped (cleaning-engine stance:
      // a malformed row must not fail the fleet; insert validates dims
      // so this only fires on foreign data)
      if (v != null && v.length == dim) {
        System.arraycopy(v, 0, xs, n * dim, dim)
        ids(n) = id
        n += 1
        if (n == TileRows) {
          scoreTile(metric, qp, xs, ids, n, heaps, out)
          n = 0
        }
      }
    }
    if (n > 0) scoreTile(metric, qp, xs, ids, n, heaps, out)
    drain(heaps, qids)
  }

  /** IVF top-K over `(id, vector, cell)` rows: each row is scored only
    * against the queries probing its cell (`cellQueries(cell)` = global
    * query indices). Work ∝ probed rows; rows of unprobed cells cost one
    * array lookup. Cosine metric (the IVF contract). */
  def topkOverCellRows(rows: Iterator[(Long, Array[Float], Int)],
                       qids: Array[Long], qVecs: Array[Array[Float]],
                       cellQueries: Array[Array[Int]],
                       k: Int): Iterator[(Long, Long, Double)] = {
    val nqAll = qids.length
    if (nqAll == 0 || rows.isEmpty) return Iterator.empty
    val dim = qVecs(0).length
    val nCells = cellQueries.length
    val heaps = Array.fill(nqAll)(new TopKHeap(k))
    val packs = new Array[QueryPack](nCells)
    val cellHeaps = new Array[Array[TopKHeap]](nCells)
    val xs = new Array[Array[Float]](nCells)
    val tids = new Array[Array[Long]](nCells)
    val fill = new Array[Int](nCells)
    var maxNq = 0
    var c = 0
    while (c < nCells) {
      if (cellQueries(c).length > maxNq) maxNq = cellQueries(c).length
      c += 1
    }
    val out = new Array[Float](maxNq)
    rows.foreach { case (id, v, cell) =>
      val probing = cellQueries(cell)
      if (probing.nonEmpty && v != null && v.length == dim) {
        if (packs(cell) == null) {
          packs(cell) = packQueries(probing.map(qVecs(_)))
          cellHeaps(cell) = probing.map(heaps(_))
          xs(cell) = new Array[Float](TileRows * dim)
          tids(cell) = new Array[Long](TileRows)
        }
        val n = fill(cell)
        System.arraycopy(v, 0, xs(cell), n * dim, dim)
        tids(cell)(n) = id
        fill(cell) = n + 1
        if (n + 1 == TileRows) {
          scoreTile(MetricCosine, packs(cell), xs(cell), tids(cell), TileRows,
            cellHeaps(cell), out)
          fill(cell) = 0
        }
      }
    }
    c = 0
    while (c < nCells) {
      if (fill(c) > 0)
        scoreTile(MetricCosine, packs(c), xs(c), tids(c), fill(c), cellHeaps(c), out)
      c += 1
    }
    drain(heaps, qids)
  }

  private[search] def drain(heaps: Array[TopKHeap], qids: Array[Long]): Iterator[(Long, Long, Double)] = {
    heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
      val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)](h.size)
      val qid = qids(qi)
      h.foreachEntry((s, id) => buf += ((qid, id, s)))
      buf
    }
  }
}
