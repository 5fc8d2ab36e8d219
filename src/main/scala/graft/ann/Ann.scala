package graft.ann

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor scale path: IVF (inverted-file) index.
  *
  * The exact kNN scan ([[graft.search.VectorSearch]]) is the correctness
  * spine; it reads the whole table per query. The IVF path bounds the
  * scan: a coarse k-means quantizer assigns every vector to a cell;
  * a query probes only the `nProbe` cells whose centroids are nearest,
  * scanning `~nProbe/nCells` of the data. At cluster scale the cell
  * table is partitioned by `cell`, so probing is partition pruning.
  *
  * Recall honesty: the driver's synthetic embeddings are near-isotropic
  * random unit vectors (measured: avg within-label cos 0.0016 vs 0.0003
  * cross — no cluster structure). On such data ANY sublinear ANN has
  * weak recall at small scan fractions — there is no structure to
  * exploit; real embedding corpora are strongly clustered and sit on
  * the favorable end of the same recall/fraction curve. [[recallCurve]]
  * measures the tradeoff rather than asserting it away.
  */
object Ann {

  final case class IvfModel(centroids: Array[Array[Double]]) {
    def nCells: Int = centroids.length
    def nearestCells(v: Seq[Double], nProbe: Int): Seq[Int] =
      centroids.indices
        .map(i => i -> sqDist(centroids(i), v))
        .sortBy { case (i, d) => (d, i) }
        .take(nProbe).map(_._1)

    /** No-copy argmin for the PER-ROW assign path (r17): passing an
      * `Array[Double]` into the Seq-typed [[nearestCells]] silently
      * COPIES it — and every centroid — through the 2.13 Array→Seq
      * implicit, i.e. N×(nCells+1) dim-length allocations plus a sort
      * per assigned row. Result is bit-identical to
      * `nearestCells(v, 1).head` (min by (d, i); first-wins tie ==
      * the sortBy's (d, i) order), parity-pinned in AnnSpec. */
    def nearestCell(v: Array[Double]): Int = {
      var best = 0
      var bestD = Double.PositiveInfinity
      var i = 0
      while (i < centroids.length) {
        val c = centroids(i)
        var s = 0.0
        var j = 0
        while (j < c.length) { val d = c(j) - v(j); s += d * d; j += 1 }
        if (s < bestD) { bestD = s; best = i }
        i += 1
      }
      best
    }
  }

  private def sqDist(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Train the coarse quantizer (MLlib k-means, seeded → deterministic).
    *
    * The converted training frame is CACHED for the duration of the
    * fit (r19): k-means makes ~2·initSteps + maxIter passes over its
    * input, and MLlib only avoids recomputation when the caller's
    * dataset is already persisted — otherwise every pass re-runs the
    * upstream plan (for the 10M-tile bench that upstream is a
    * GlobalLimit whose single reduce task re-fetches and re-decodes
    * the sample per pass: trainIvf measured 52–68 s there, almost all
    * of it that recompute). Caching preserves content, partitioning
    * and row order exactly, so the trained centers are bit-identical
    * (pinned by the golden centroid fingerprint in PqSpec; the r19
    * A/B is in docs/probes/pq_build_r19.txt). */
  def trainIvf(df: DataFrame, vecCol: String, nCells: Int,
               seed: Long = 42L, maxIter: Int = 20): IvfModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val feats = df.select(col(vecCol).cast("array<double>").as("arr"))
      .as[Array[Double]]
      .map(a => org.apache.spark.ml.feature.LabeledPoint(0.0, Vectors.dense(a)))
      .toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val km = new KMeans().setK(nCells).setSeed(seed).setMaxIter(maxIter)
        .setFeaturesCol("features")
      val model = km.fit(feats)
      IvfModel(model.clusterCenters.map(_.toArray))
    } finally { feats.unpersist(); () }
  }

  /** Assign every row to its nearest cell — one narrow pass, centroids
    * broadcast in the closure. Vectors are kept as `ARRAY<FLOAT>` so
    * downstream search jobs pay no per-row double→float cast
    * (assignment distance math still runs in double). */
  def assignCells(df: DataFrame, vecCol: String, idCol: String,
                  model: IvfModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val vd = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { vd(i) = v(i); i += 1 }
        (id, v, model.nearestCell(vd))
      }
      .toDF("id", "v", "cell")
  }

  /** Batched IVF search: each query probes its `nProbe` nearest cells;
    * candidates = rows of probed cells only; exact cosine re-rank per
    * query via a PARTITIONED window. One plan for the whole fleet.
    * Returns `(qid, id, score, rank)`, rank ≤ k. */
  def ivfSearchBatch(cells: DataFrame, model: IvfModel,
                     queries: Seq[(Long, Seq[Double])], k: Int,
                     nProbe: Int): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val probes = queries.flatMap { case (qid, qv) =>
      model.nearestCells(qv, nProbe).map(c => (qid, c, qv))
    }.toDF("qid", "cell", "qv")
    val cand = cells.join(broadcast(probes), Seq("cell"))
    val scored = cand.withColumn("score",
      VectorFunctions.cosineSimilarity(col("v"), col("qv")))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "score", "rank")
  }

  /** Throughput IVF shape: invert the probe lists into a
    * cell → query-index table (broadcast), then one `mapPartitions`
    * pass where each row is scored ONLY against the queries probing its
    * cell, into per-query bounded heaps. Work ∝ scanned fraction — the
    * windowed [[ivfSearchBatch]] shuffles every candidate row with its
    * vector and loses that proportionality at large fleets. Scoring runs
    * in the tiled float kernel ([[graft.search.Kernels]]): rows buffer
    * into per-cell tiles, each scored as one small matrix multiply
    * against that cell's probing-query pack. */
  def ivfSearchBatchFast(cells: DataFrame, model: IvfModel,
                         queries: Seq[(Long, Seq[Double])], k: Int,
                         nProbe: Int): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val qArr = queries.toArray
    val cellToQueries: Array[Array[Int]] = {
      val m = Array.fill(model.nCells)(scala.collection.mutable.ArrayBuffer.empty[Int])
      qArr.zipWithIndex.foreach { case ((_, qv), qi) =>
        model.nearestCells(qv, nProbe).foreach(c => m(c) += qi)
      }
      m.map(_.toArray)
    }
    val qBc = spark.sparkContext.broadcast(
      (qArr.map(_._1), qArr.map(_._2.toArray.map(_.toFloat)), cellToQueries))
    val pairs = cells.select(col("id"), col("v").cast("array<float>"), col("cell"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val (qids, qVecs, c2q) = qBc.value
        graft.search.Kernels.topkOverCellRows(it, qids, qVecs, c2q, k)
      }.toDF("qid", "id", "score")
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("id"))
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** recall@k of `ann` against `exact` (both `(qid, id, ...)` with ≤ k
    * rows per qid). */
  def recallAtK(ann: DataFrame, exact: DataFrame): Double = {
    val hits = ann.select("qid", "id").intersect(exact.select("qid", "id")).count()
    val total = exact.count()
    if (total == 0) 0.0 else hits.toDouble / total
  }

  /** Measure the recall / scanned-fraction tradeoff across probe
    * counts. Returns rows `(n_probe, recall, candidate_fraction)`
    * where candidate_fraction = scanned candidates / (nQueries × N). */
  def recallCurve(df: DataFrame, vecCol: String, idCol: String,
                  queries: Seq[(Long, Seq[Double])], k: Int,
                  nCells: Int, nProbes: Seq[Int],
                  seed: Long = 42L): Seq[(Int, Double, Double)] = {
    val model = trainIvf(df, vecCol, nCells, seed)
    val cells = assignCells(df, vecCol, idCol, model).cache()
    val n = cells.count()
    val exact = graft.search.VectorSearch.knnBatchFast(
      df, queries.map { case (q, v) => (q, v.toArray) }, k,
      vectorCol = vecCol, idCol = idCol).cache()
    try {
      val cellSizes = cells.groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      nProbes.map { p =>
        val scanned = queries.map { case (_, qv) =>
          model.nearestCells(qv, p).map(c => cellSizes.getOrElse(c, 0L)).sum
        }.sum
        val ann = ivfSearchBatch(cells, model, queries, k, p)
        val r = recallAtK(ann, exact)
        (p, r, scanned.toDouble / (queries.size * n))
      }
    } finally { cells.unpersist(); exact.unpersist() }
  }
}
