package graft.search

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann.IvfModel
import graft.ann.Pq.PqModel

/** Prebuilt in-memory vector indexes for query-fleet serving.
  *
  * The reference's bench QPS is measured over a PREBUILT in-RAM HNSW
  * graph (`/root/reference/bin/cli.js:81-90` builds, then loops
  * queries); the Spark analog is packing the collection once into
  * cached primitive float blocks and answering every subsequent fleet
  * from them — no per-row Dataset decode, no per-query job setup
  * beyond the scan itself. Executors each hold their partitions'
  * blocks; a search is one narrow pass emitting ≤ partitions × Q × k
  * candidate rows.
  *
  * At cluster scale the blocks live in executor storage memory
  * (`RDD.cache()`), exactly like any hot cached table; rebuilding after
  * executor loss is a narrow re-pack of the source partition.
  */
object PackedIndex {

  /** One packed tile: row ids + row-major float matrix (n × dim) +
    * per-row squared norms (computed once at pack time, reused by
    * every fleet — cosine/euclidean skip a full per-search pass). */
  final case class VecBlock(ids: Array[Long], xs: Array[Float], norm2: Array[Double])

  /** A packed tile of a single IVF cell. */
  final case class CellBlock(cell: Int, ids: Array[Long], xs: Array[Float], norm2: Array[Double])

  /** A packed tile of PQ codes for a single IVF cell: `codes` is
    * row-major n × m bytes — `m`/4·dim the footprint of a [[CellBlock]]
    * (8 B/vector at 64-D, m=8 — 32× smaller than float32). */
  final case class PqCellBlock(cell: Int, ids: Array[Long], codes: Array[Byte])

  /** A packed tile of SQ8 codes: row-major n × dim int8 + per-row
    * scale + per-row squared norm of the RECONSTRUCTED vector
    * (`scale²·Σcode²`, computed once at pack time). dim bytes/vector —
    * 4× smaller than a [[VecBlock]], the FAISS-SQ8 rung between
    * float32 and PQ-8B on the serving tier's compression ladder. */
  final case class Sq8Block(ids: Array[Long], codes: Array[Byte],
                            scales: Array[Double], norm2: Array[Double])

  /** A packed SQ8 tile of a single IVF cell — the FAISS `IVF,SQ8`
    * composition point (VERDICT r15 #5): cell-pruned like [[CellBlock]],
    * int8-compressed like [[Sq8Block]], so the same byte budget holds
    * ~4× IVF's rows while a probe still touches only its cells. */
  final case class Sq8CellBlock(cell: Int, ids: Array[Long], codes: Array[Byte],
                                scales: Array[Double], norm2: Array[Double])

  /** Pack `(id, vector)` rows of a partition into [[VecBlock]]s of at
    * most [[Kernels.TileRows]] rows. Also the driver-local pack path
    * ([[ServingSession]]). */
  private[search] def packRows(it: Iterator[(Long, Array[Float])], dim: Int): Iterator[VecBlock] =
    it.filter { case (_, v) => v != null && v.length == dim } // skip malformed
      .grouped(Kernels.TileRows).map { g =>
        val n = g.length
        val ids = new Array[Long](n)
        val xs = new Array[Float](n * dim)
        val norm2 = new Array[Double](n)
        var i = 0
        g.foreach { case (id, v) =>
          ids(i) = id
          System.arraycopy(v, 0, xs, i * dim, dim)
          norm2(i) = rowNorm2(v)
          i += 1
        }
        VecBlock(ids, xs, norm2)
      }

  /** Pack `(id, vector)` rows into [[Sq8Block]]s, quantizing each row
    * with [[graft.ann.ScalarQuant]]'s EXACT rule (bit-parity pinned in
    * PackedIndexSpec):
    *
    *   scale = max_d |x_d| / 127        (zero vector → scale 0, q = 0)
    *   q_d   = clamp(floor(x_d / scale + 0.5), −127, 127)
    *
    * computed on double-widened floats, matching the DataFrame op's
    * `array<double>` cast of a float column (widening is exact). */
  private[search] def packSq8Rows(it: Iterator[(Long, Array[Float])],
                                  dim: Int): Iterator[Sq8Block] =
    it.filter { case (_, v) => v != null && v.length == dim }
      .grouped(Kernels.TileRows).map { g =>
        val n = g.length
        val ids = new Array[Long](n)
        val codes = new Array[Byte](n * dim)
        val scales = new Array[Double](n)
        val norm2 = new Array[Double](n)
        var i = 0
        g.foreach { case (id, v) =>
          ids(i) = id
          val (scale, n2) = quantizeSq8Row(v, dim, codes, i * dim)
          scales(i) = scale
          norm2(i) = n2
          i += 1
        }
        Sq8Block(ids, codes, scales, norm2)
      }

  /** Quantize one row into `codes[off, off+dim)` with the exact SQ8
    * rule above; returns `(scale, norm2-of-reconstruction)`. Shared by
    * the exact-scan and per-cell pack paths so their bytes are
    * bit-identical. */
  private[search] def quantizeSq8Row(v: Array[Float], dim: Int,
                                     codes: Array[Byte], off: Int): (Double, Double) = {
    var mx = 0.0
    var d = 0
    while (d < dim) {
      val a = math.abs(v(d).toDouble)
      if (a > mx) mx = a
      d += 1
    }
    val scale = mx / 127.0
    var sumSq = 0L // Σcode² — exact in a long (≤ dim·127²)
    d = 0
    while (d < dim) {
      val q =
        if (scale > 0.0) {
          val f = math.floor(v(d).toDouble / scale + 0.5)
          (if (f < -127.0) -127.0 else if (f > 127.0) 127.0 else f).toInt
        } else 0
      codes(off + d) = q.toByte
      sumSq += q.toLong * q
      d += 1
    }
    (scale, scale * scale * sumSq.toDouble)
  }

  /** `dot(q, centroid)` — the residual-ADC per-probe constant. */
  private[search] def qDotCentroid(q: Array[Float], c: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    val n = math.min(q.length, c.length)
    while (j < n) { s += q(j) * c(j); j += 1 }
    s
  }

  /** Squared norm with the same accumulation order the kernel uses —
    * identical doubles whether computed at pack or search time. */
  private def rowNorm2(v: Array[Float]): Double = {
    var s = 0.0
    var d = 0
    while (d < v.length) { val x = v(d).toDouble; s += x * x; d += 1 }
    s
  }

  /** Exact-scan index: the whole collection packed. */
  final class Exact private[PackedIndex] (
      @transient val spark: SparkSession,
      val blocks: RDD[VecBlock], val dim: Int, val n: Long) {

    /** Answer a query fleet: top-k per query, `(qid, id, score, rank)`.
      *
      * PRECISION: scoring shares [[Kernels.scoreTile]]'s single-precision
      * dot accumulation — near-tied candidates (~1e-7 relative score gap)
      * may order differently than the declarative double path; see
      * [[VectorSearch.knnBatchFast]]'s precision note (ADVICE r3). */
    def search(queries: Seq[(Long, Array[Double])], k: Int,
               m: VectorSearch.Metric = VectorSearch.Cosine): DataFrame = {
      val qids = queries.map(_._1).toArray
      val qVecs = queries.map(_._2.map(_.toFloat)).toArray
      val code = metricCode(m)
      val bc = blocks.sparkContext.broadcast((qids, qVecs))
      val pairs = blocks.mapPartitions { bit =>
        val (ids, vecs) = bc.value
        val nq = ids.length
        if (nq == 0 || bit.isEmpty) Iterator.empty
        else {
          val qp = Kernels.packQueries(vecs)
          val heaps = Array.fill(nq)(new Kernels.TopKHeap(k))
          val out = new Array[Float](nq)
          bit.foreach(b => Kernels.scoreTile(code, qp, b.xs, b.ids, b.ids.length, heaps, out, b.norm2))
          Kernels.drain(heaps, ids)
        }
      }
      rank(spark, pairs, k, bc)
    }

    def unpersist(): Unit = { blocks.unpersist(); () }
  }

  /** SQ8 exact-scan index: the whole collection packed as int8 codes +
    * per-row scale — 4× smaller resident than [[Exact]] with no
    * codebook training (the FAISS `ScalarQuantizer` role; VERDICT r14
    * #4). Scores are the quantized cosine: every row is still visited
    * (exact SCAN, approximate SCORES), so recall degrades only by the
    * quantization step, not by partition pruning — the contract is
    * pinned in ServingRecallSpec (score-recall@10 ≥ 0.95 at the
    * default config). Same fleet protocol as [[Exact.search]]. */
  final class Sq8 private[PackedIndex] (
      @transient val spark: SparkSession,
      val blocks: RDD[Sq8Block], val dim: Int, val n: Long) {

    /** Quantized-cosine top-k per query (`(qid, id, score, rank)`) —
      * symmetric: queries quantize once per search, scores are the
      * integer cosine of the code vectors ([[Kernels.scoreSq8Tile]]). */
    def search(queries: Seq[(Long, Array[Double])], k: Int): DataFrame = {
      val qids = queries.map(_._1).toArray
      val qVecs = queries.map(_._2.map(_.toFloat)).toArray
      val bc = blocks.sparkContext.broadcast((qids, qVecs))
      val pairs = blocks.mapPartitions { bit =>
        val (ids, vecs) = bc.value
        val nq = ids.length
        if (nq == 0 || bit.isEmpty) Iterator.empty
        else {
          val qp = Kernels.packSq8Queries(vecs)
          val heaps = Array.fill(nq)(new Kernels.TopKHeap(k))
          val out = new Array[Int](nq)
          bit.foreach(b => Kernels.scoreSq8Tile(qp, b.codes, b.scales, b.ids,
            b.ids.length, heaps, out, b.norm2))
          Kernels.drain(heaps, ids)
        }
      }
      rank(spark, pairs, k, bc)
    }

    def unpersist(): Unit = { blocks.unpersist(); () }
  }

  /** IVF index: cells repartitioned by cell id and packed per cell, so
    * a probe touches only its cells' blocks — the in-memory analog of
    * partition pruning on a cell-partitioned table. */
  final class Ivf private[PackedIndex] (
      @transient val spark: SparkSession,
      val model: IvfModel, val blocks: RDD[CellBlock], val dim: Int,
      val n: Long) {

    /** Cosine top-k per query over the probed cells only. */
    def search(queries: Seq[(Long, Seq[Double])], k: Int, nProbe: Int): DataFrame = {
      val qArr = queries.toArray
      val qids = qArr.map(_._1)
      val qVecs = qArr.map(_._2.toArray.map(_.toFloat))
      val c2q: Array[Array[Int]] = {
        val m = Array.fill(model.nCells)(scala.collection.mutable.ArrayBuffer.empty[Int])
        qArr.zipWithIndex.foreach { case ((_, qv), qi) =>
          model.nearestCells(qv, nProbe).foreach(c => m(c) += qi)
        }
        m.map(_.toArray)
      }
      val bc = blocks.sparkContext.broadcast((qids, qVecs, c2q))
      val pairs = blocks.mapPartitions { bit =>
        val (ids, vecs, cq) = bc.value
        val nqAll = ids.length
        if (nqAll == 0 || bit.isEmpty) Iterator.empty
        else {
          val nCells = cq.length
          val heaps = Array.fill(nqAll)(new Kernels.TopKHeap(k))
          val packs = new Array[Kernels.QueryPack](nCells)
          val cellHeaps = new Array[Array[Kernels.TopKHeap]](nCells)
          var maxNq = 0
          var c = 0
          while (c < nCells) {
            if (cq(c).length > maxNq) maxNq = cq(c).length
            c += 1
          }
          val out = new Array[Float](maxNq)
          bit.foreach { cb =>
            val probing = cq(cb.cell)
            if (probing.nonEmpty) {
              if (packs(cb.cell) == null) {
                packs(cb.cell) = Kernels.packQueries(probing.map(vecs(_)))
                cellHeaps(cb.cell) = probing.map(heaps(_))
              }
              Kernels.scoreTile(Kernels.MetricCosine, packs(cb.cell), cb.xs, cb.ids,
                cb.ids.length, cellHeaps(cb.cell), out, cb.norm2)
            }
          }
          Kernels.drain(heaps, ids)
        }
      }
      rank(spark, pairs, k, bc)
    }

    def unpersist(): Unit = { blocks.unpersist(); () }
  }

  /** IVF×SQ8 index: per-cell SQ8 code blocks — cell-pruned scans over
    * int8 codes (the FAISS `IVF,SQ8` point; VERDICT r15 #5). A probe
    * visits only its cells' rows (IVF's pruning) and each visited row
    * costs a dim-byte integer dot ([[Kernels.scoreSq8Tile]] — SQ8's
    * compression), so recall composes the two losses: cell-miss (bounded
    * by nProbe, same as [[Ivf]]) and quantization reorder (same as
    * [[Sq8]]); the default-config floor is pinned in ServingRecallSpec.
    * Resident footprint is `n × (dim + 24)` bytes — ~4× more rows than
    * [[Ivf]] under the same cap, 8× fewer than [[IvfPq]] holds but with
    * no codebook training and near-SQ8 recall. */
  final class IvfSq8 private[PackedIndex] (
      @transient val spark: SparkSession,
      val model: IvfModel, val blocks: RDD[Sq8CellBlock], val dim: Int,
      val n: Long) {

    /** Quantized-cosine top-k per query over the probed cells only —
      * the per-cell fleet protocol of [[Ivf.search]] with
      * [[Kernels.scoreSq8Tile]] as the kernel (queries quantized once
      * per probed cell's pack, symmetric integer scoring). */
    def search(queries: Seq[(Long, Seq[Double])], k: Int, nProbe: Int): DataFrame = {
      val qArr = queries.toArray
      val qids = qArr.map(_._1)
      val qVecs = qArr.map(_._2.toArray.map(_.toFloat))
      val c2q: Array[Array[Int]] = {
        val m = Array.fill(model.nCells)(scala.collection.mutable.ArrayBuffer.empty[Int])
        qArr.zipWithIndex.foreach { case ((_, qv), qi) =>
          model.nearestCells(qv, nProbe).foreach(c => m(c) += qi)
        }
        m.map(_.toArray)
      }
      val bc = blocks.sparkContext.broadcast((qids, qVecs, c2q))
      val pairs = blocks.mapPartitions { bit =>
        val (ids, vecs, cq) = bc.value
        val nqAll = ids.length
        if (nqAll == 0 || bit.isEmpty) Iterator.empty
        else {
          val nCells = cq.length
          val heaps = Array.fill(nqAll)(new Kernels.TopKHeap(k))
          val packs = new Array[Kernels.Sq8QueryPack](nCells)
          val cellHeaps = new Array[Array[Kernels.TopKHeap]](nCells)
          var maxNq = 0
          var c = 0
          while (c < nCells) {
            if (cq(c).length > maxNq) maxNq = cq(c).length
            c += 1
          }
          val out = new Array[Int](maxNq)
          bit.foreach { cb =>
            val probing = cq(cb.cell)
            if (probing.nonEmpty) {
              if (packs(cb.cell) == null) {
                packs(cb.cell) = Kernels.packSq8Queries(probing.map(vecs(_)))
                cellHeaps(cb.cell) = probing.map(heaps(_))
              }
              Kernels.scoreSq8Tile(packs(cb.cell), cb.codes, cb.scales, cb.ids,
                cb.ids.length, cellHeaps(cb.cell), out, cb.norm2)
            }
          }
          Kernels.drain(heaps, ids)
        }
      }
      rank(spark, pairs, k, bc)
    }

    /** Quantized candidates re-ranked at FULL precision against the
      * source table — the [[IvfPq.searchRefined]] contract for the
      * composed index: over-fetch `k × refineFactor` by the int8 score,
      * then exact-rescore only those rows ([[graft.ann.Pq.refine]] — a
      * broadcast join touching ≤ Q × k × refineFactor rows). Default
      * `refineFactor = 4`: SQ8's score noise is the int8 step (~1e-3 on
      * unit vectors), orders of magnitude tighter than PQ-8B's, so a
      * 40-candidate pool already recovers exact top-10 ordering
      * (ServingRecallSpec pins the unrefined floor at ≥ 0.95; the bench
      * measures refined recall 1.0 at 100k/1M). */
    def searchRefined(df: DataFrame, vecCol: String, idCol: String,
                      queries: Seq[(Long, Seq[Double])], k: Int, nProbe: Int,
                      refineFactor: Int = 4): DataFrame = {
      val cand = search(queries, k * refineFactor, nProbe)
      graft.ann.Pq.refine(df, vecCol, idCol, cand,
        queries.map { case (q, v) => (q, v.toArray) }, k)
    }

    def unpersist(): Unit = { blocks.unpersist(); () }
  }

  /** IVF-PQ index: per-cell PQ code blocks scored by asymmetric
    * distance (ADC — [[graft.ann.Pq.PqModel.lookupTable]]): a probe
    * builds one `m × 256` float table per query, then each candidate
    * row costs `m` table adds — no float math per row. Memory is the
    * point: codes are `m` bytes/vector vs `4·dim` float32 (32× at
    * 64-D, m=8), so collections 30× too big for [[Ivf]] still serve
    * from RAM. Scores are approximate (quantized); chase with
    * [[searchRefined]] to re-rank candidates at full precision from
    * the on-disk table.
    */
  final class IvfPq private[PackedIndex] (
      @transient val spark: SparkSession,
      val ivf: IvfModel, val pq: PqModel,
      val blocks: RDD[PqCellBlock], val n: Long,
      val residual: Boolean = false) {

    /** ADC top-k per query over the probed cells. Scores are the
      * quantized cosine (inputs unit-normalized at encode). With
      * [[residual]] codes, each probe adds the per-cell constant
      * `dot(q, centroid)` — dot is linear, so the SAME query LUT scores
      * residual codes; the offsets are precomputed driver-side (Q ×
      * nProbe scalars) and ride the existing broadcast. */
    def search(queries: Seq[(Long, Seq[Double])], k: Int, nProbe: Int): DataFrame = {
      val qArr = queries.toArray
      val qids = qArr.map(_._1)
      val qVecs = qArr.map(q => graft.ann.Pq.l2normalize(q._2.toArray.map(_.toFloat)))
      // per cell: the probing query indexes, and (residual only) the
      // matching dot(q, centroid) offsets — zero when codes are raw
      val (c2q, c2off): (Array[Array[Int]], Array[Array[Double]]) = {
        val m = Array.fill(ivf.nCells)(scala.collection.mutable.ArrayBuffer.empty[Int])
        val o = Array.fill(ivf.nCells)(scala.collection.mutable.ArrayBuffer.empty[Double])
        qArr.zipWithIndex.foreach { case ((_, qv), qi) =>
          ivf.nearestCells(qv, nProbe).foreach { c =>
            m(c) += qi
            o(c) += (if (residual) qDotCentroid(qVecs(qi), ivf.centroids(c)) else 0.0)
          }
        }
        (m.map(_.toArray), o.map(_.toArray))
      }
      val model = pq
      val bc = blocks.sparkContext.broadcast((qids, qVecs, c2q, c2off))
      val pairs = blocks.mapPartitions { bit =>
        val (ids, vecs, cq, coff) = bc.value
        val nqAll = ids.length
        if (nqAll == 0 || bit.isEmpty) Iterator.empty
        else {
          val heaps = Array.fill(nqAll)(new Kernels.TopKHeap(k))
          // LUTs built lazily once per query, reused across this
          // partition's blocks (m × 256 floats = 8 KB each)
          val luts = new Array[Array[Float]](nqAll)
          val m = model.m
          bit.foreach { cb =>
            val probing = cq(cb.cell)
            val offsets = coff(cb.cell)
            var pi = 0
            while (pi < probing.length) {
              val qi = probing(pi)
              if (luts(qi) == null) luts(qi) = model.lookupTable(vecs(qi))
              val lut = luts(qi)
              val off = offsets(pi)
              val heap = heaps(qi)
              val nRows = cb.ids.length
              var r = 0
              while (r < nRows) {
                heap.offer(off + model.adcScore(lut, cb.codes, r * m), cb.ids(r))
                r += 1
              }
              pi += 1
            }
          }
          Kernels.drain(heaps, ids)
        }
      }
      rank(spark, pairs, k, bc)
    }

    /** ADC candidates re-ranked at FULL precision against the source
      * table (`df` — typically the on-disk parquet collection):
      * over-fetch `k × refineFactor` by ADC, then exact-rescore only
      * those rows ([[graft.ann.Pq.refine]] — a broadcast join touching
      * ≤ Q × k × refineFactor rows). The scale story: codes in RAM,
      * floats on disk.
      *
      * Default `refineFactor = 16`: measured on the bench corpora
      * (isotropic 64-d, the unfavorable case), 8-byte ADC needs a
      * ~160-candidate pool for refined score-recall@10 ≥ 0.93 with
      * full probing; 4 left recall on the table (r6 grid —
      * docs/probes/HISTORY.md, retired PqProbe). The refine cost is
      * one broadcast join over Q × k × refineFactor rows — cheap next
      * to the ADC pass. */
    def searchRefined(df: DataFrame, vecCol: String, idCol: String,
                      queries: Seq[(Long, Seq[Double])], k: Int, nProbe: Int,
                      refineFactor: Int = 16): DataFrame = {
      val cand = search(queries, k * refineFactor, nProbe)
      graft.ann.Pq.refine(df, vecCol, idCol, cand,
        queries.map { case (q, v) => (q, v.toArray) }, k)
    }

    def unpersist(): Unit = { blocks.unpersist(); () }
  }

  /** Build the exact-scan index: one narrow pack pass, cached. */
  def buildExact(df: DataFrame, vectorCol: String, idCol: String): Exact = {
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(idCol).cast("long").as("id"),
        col(vectorCol).cast("array<float>").as("v"))
      .filter(col("v").isNotNull)
      .as[(Long, Array[Float])]
    val dim = src.take(1).headOption.map(_._2.length).getOrElse(0)
    val blocks = src.rdd.mapPartitions(packRows(_, dim)).cache()
    val n = blocks.map(_.ids.length.toLong).fold(0L)(_ + _) // materialize
    new Exact(spark, blocks, dim, n)
  }

  /** Build the SQ8 index: one narrow pack-and-quantize pass, cached —
    * the 4×-compressed sibling of [[buildExact]] (quantize on ingest,
    * dim + 24 B/row resident instead of 4·dim + 16). */
  def buildSq8(df: DataFrame, vectorCol: String, idCol: String): Sq8 = {
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(idCol).cast("long").as("id"),
        col(vectorCol).cast("array<float>").as("v"))
      .filter(col("v").isNotNull)
      .as[(Long, Array[Float])]
    val dim = src.take(1).headOption.map(_._2.length).getOrElse(0)
    val blocks = src.rdd.mapPartitions(packSq8Rows(_, dim)).cache()
    val n = blocks.map(_.ids.length.toLong).fold(0L)(_ + _) // materialize
    new Sq8(spark, blocks, dim, n)
  }

  /** Build the IVF index from an assigned cell table `(id, v, cell)`
    * ([[graft.ann.Ann.assignCells]]): repartition by cell, pack each
    * cell's rows into dedicated blocks. */
  def buildIvf(cells: DataFrame, model: IvfModel): Ivf = {
    val spark = cells.sparkSession
    import spark.implicits._
    val src = cells.select(col("id").cast("long"),
        col("v").cast("array<float>"), col("cell").cast("int"))
      .filter(col("v").isNotNull)
      .repartition(col("cell"))
      .as[(Long, Array[Float], Int)]
    val dim = src.take(1).headOption.map(_._2.length).getOrElse(0)
    val blocks = src.rdd.mapPartitions { it =>
      // per-cell accumulation: a partition holds whole cells (hash
      // partitioning by cell), possibly several
      val bufs = scala.collection.mutable.LongMap.empty[(scala.collection.mutable.ArrayBuffer[Long], scala.collection.mutable.ArrayBuilder.ofFloat, scala.collection.mutable.ArrayBuilder.ofDouble)]
      val done = scala.collection.mutable.ArrayBuffer.empty[CellBlock]
      it.foreach { case (id, v, cell) =>
        if (v != null && v.length == dim) { // skip malformed rows
          val (ids, xs, n2) = bufs.getOrElseUpdate(cell.toLong,
            (new scala.collection.mutable.ArrayBuffer[Long],
              new scala.collection.mutable.ArrayBuilder.ofFloat,
              new scala.collection.mutable.ArrayBuilder.ofDouble))
          ids += id
          xs ++= v
          n2 += rowNorm2(v)
          if (ids.length == Kernels.TileRows) {
            done += CellBlock(cell, ids.toArray, xs.result(), n2.result())
            bufs.remove(cell.toLong)
          }
        }
      }
      bufs.foreach { case (cell, (ids, xs, n2)) =>
        if (ids.nonEmpty) done += CellBlock(cell.toInt, ids.toArray, xs.result(), n2.result())
      }
      done.iterator
    }.cache()
    val n = blocks.map(_.ids.length.toLong).fold(0L)(_ + _) // materialize + row count
    new Ivf(spark, model, blocks, dim, n)
  }

  /** Build the IVF×SQ8 index from an assigned cell table `(id, v,
    * cell)` ([[graft.ann.Ann.assignCells]]): repartition by cell, pack
    * each cell's rows into SQ8 code blocks with the EXACT quantization
    * rule of [[buildSq8]] (shared [[quantizeSq8Row]] — bit-parity
    * pinned in PackedIndexSpec). One narrow pack pass after the cell
    * shuffle; cached footprint `n × (dim + 24)` bytes. */
  def buildIvfSq8(cells: DataFrame, model: IvfModel): IvfSq8 = {
    val spark = cells.sparkSession
    import spark.implicits._
    val src = cells.select(col("id").cast("long"),
        col("v").cast("array<float>"), col("cell").cast("int"))
      .filter(col("v").isNotNull)
      .repartition(col("cell"))
      .as[(Long, Array[Float], Int)]
    val dim = src.take(1).headOption.map(_._2.length).getOrElse(0)
    val blocks = src.rdd.mapPartitions { it =>
      // per-cell accumulation, as in buildIvf, but rows quantize to
      // int8 codes at pack time (quantize-on-ingest)
      val bufs = scala.collection.mutable.LongMap.empty[(scala.collection.mutable.ArrayBuffer[Long], scala.collection.mutable.ArrayBuilder.ofByte, scala.collection.mutable.ArrayBuilder.ofDouble, scala.collection.mutable.ArrayBuilder.ofDouble)]
      val done = scala.collection.mutable.ArrayBuffer.empty[Sq8CellBlock]
      val rowCodes = new Array[Byte](dim)
      it.foreach { case (id, v, cell) =>
        if (v != null && v.length == dim) { // skip malformed rows
          val (ids, cs, sc, n2) = bufs.getOrElseUpdate(cell.toLong,
            (new scala.collection.mutable.ArrayBuffer[Long],
              new scala.collection.mutable.ArrayBuilder.ofByte,
              new scala.collection.mutable.ArrayBuilder.ofDouble,
              new scala.collection.mutable.ArrayBuilder.ofDouble))
          val (scale, norm2) = quantizeSq8Row(v, dim, rowCodes, 0)
          ids += id
          cs ++= rowCodes
          sc += scale
          n2 += norm2
          if (ids.length == Kernels.TileRows) {
            done += Sq8CellBlock(cell, ids.toArray, cs.result(), sc.result(), n2.result())
            bufs.remove(cell.toLong)
          }
        }
      }
      bufs.foreach { case (cell, (ids, cs, sc, n2)) =>
        if (ids.nonEmpty)
          done += Sq8CellBlock(cell.toInt, ids.toArray, cs.result(), sc.result(), n2.result())
      }
      done.iterator
    }.cache()
    val n = blocks.map(_.ids.length.toLong).fold(0L)(_ + _) // materialize
    new IvfSq8(spark, model, blocks, dim, n)
  }

  /** Build the IVF-PQ index from an encoded `(id, cell, code)` dataset
    * ([[graft.ann.Pq.encodeCells]]): repartition by cell, pack each
    * cell's codes into byte blocks. The cached footprint is
    * `n × (m + 8)` bytes — the index for a collection 30× too large to
    * pack as floats. */
  def buildIvfPq(codes: org.apache.spark.sql.Dataset[(Long, Int, Array[Byte])],
                 ivfModel: IvfModel, pqModel: PqModel): IvfPq = {
    val spark = codes.sparkSession
    import spark.implicits._
    val m = pqModel.m
    val src = codes.toDF("id", "cell", "code")
      .repartition(col("cell"))
      .as[(Long, Int, Array[Byte])]
    val blocks = src.rdd.mapPartitions { it =>
      val bufs = scala.collection.mutable.LongMap.empty[(scala.collection.mutable.ArrayBuffer[Long], scala.collection.mutable.ArrayBuilder.ofByte)]
      val done = scala.collection.mutable.ArrayBuffer.empty[PqCellBlock]
      it.foreach { case (id, cell, code) =>
        if (code != null && code.length == m) {
          val (ids, cs) = bufs.getOrElseUpdate(cell.toLong,
            (new scala.collection.mutable.ArrayBuffer[Long],
              new scala.collection.mutable.ArrayBuilder.ofByte))
          ids += id
          cs ++= code
          if (ids.length == Kernels.TileRows * 8) { // byte blocks are tiny; 8× tile rows
            done += PqCellBlock(cell, ids.toArray, cs.result())
            bufs.remove(cell.toLong)
          }
        }
      }
      bufs.foreach { case (cell, (ids, cs)) =>
        if (ids.nonEmpty) done += PqCellBlock(cell.toInt, ids.toArray, cs.result())
      }
      done.iterator
    }.cache()
    val n = blocks.map(_.ids.length.toLong).fold(0L)(_ + _) // materialize
    // residual-ness rides the model itself — build sites cannot pair
    // residual codebooks with raw scoring (review r5)
    new IvfPq(spark, ivfModel, pqModel, blocks, n, pqModel.residual)
  }

  private def metricCode(m: VectorSearch.Metric): Int = m match {
    case VectorSearch.Cosine => Kernels.MetricCosine
    case VectorSearch.CosineUnit => Kernels.MetricCosineUnit
    case VectorSearch.DotProduct => Kernels.MetricDot
    case VectorSearch.Euclidean => Kernels.MetricEuclidean
  }

  /** Final per-query ranking via a driver-side merge — the same
    * bounded-candidates contract `TakeOrderedAndProject` uses: the
    * input is ≤ partitions × Q × k rows (each partition already kept
    * only its local top-k per query), so collecting and merging on the
    * driver replaces a shuffle + sort with milliseconds of local work
    * on the serving path. Sized for serving fleets (Q up to ~10⁴ at
    * k=10 collects a few MB); for larger analytical fleets use the
    * scan APIs ([[VectorSearch.knnBatchFast]] /
    * [[graft.ann.Ann.ivfSearchBatchFast]]), whose partitioned-window
    * rank keeps the result distributed. */
  private def rank(spark: SparkSession, pairs: RDD[(Long, Long, Double)], k: Int,
                   bc: org.apache.spark.broadcast.Broadcast[_] = null): DataFrame = {
    import spark.implicits._
    val merged = pairs.collect().groupBy(_._1).iterator.flatMap { case (qid, cand) =>
      cand.sortBy { case (_, id, s) => (-s, id) }
        .iterator.take(k).zipWithIndex
        .map { case ((_, id, s), i) => (qid, id, s, i + 1) }
    }.toSeq
    // the collect above is the last consumer of the per-search query
    // broadcast — destroy it here so repeated searches on a long-lived
    // index never accumulate broadcast blocks on executors (ADVICE r16)
    if (bc != null) bc.destroy()
    spark.createDataFrame(merged).toDF("qid", "id", "score", "rank")
  }
}
