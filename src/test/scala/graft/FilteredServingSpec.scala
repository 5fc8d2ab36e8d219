package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{lit, map}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{FusionEngine, MetadataFilter}
import graft.model.CollectionConfig
import graft.search.Kernels

/** Filtered resident serving pinned to two references, per metric and
  * per fan-out width:
  *
  *  - row for row (id, score, rank, content) equal to an UNFILTERED
  *    resident search with k = n, post-filtered and re-ranked — the
  *    exact filtered top-k from the same float kernel;
  *  - the same ids as the job path's filter-before-rank
  *    ([[FusionEngine.search]]) at every rank whose score is further
  *    than [[Kernels.FloatScoreTolerance]] from both neighbours.
  *
  * The collection is 20k random 64-D rows, so a 1/2 filter (≈ 10k
  * matches) passes the serial work threshold and fans out. It carries
  * rows with a null tenant, a null metadata map or a missing key,
  * groups of rows sharing one vector (exact score ties, broken by id),
  * and one row with a null vector, which the snapshot keeps but the
  * pack skips. */
class FilteredServingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val Prop = "graft.serving.minRowsPerWorker"
  private val dim = 64
  private val n = 20000
  private val NullVecId = "r10000a" // sorts between r10000 and r10001

  private final case class Row(id: String, vector: Array[Float],
                               tenant: Option[String],
                               meta: Option[Map[String, String]])

  /** Tenants: ta 1/2, tb 1/8, tc 1/1000, ~1% null. Metadata keys: `h`
    * (1/2), `e` (1/8), `k` ("rare" 1/1000, "pair" 1/500), `q` (1/4),
    * `all` (every full map); 1% null maps, 1% maps missing `h`. Rows
    * 200-204 and 7000-7002 share one vector per group. */
  private lazy val rows: Array[Row] = {
    val rnd = new scala.util.Random(4242)
    val vecs = Array.fill(n)(Array.fill(dim)((rnd.nextGaussian() * 0.125).toFloat))
    (201 until 205).foreach(i => vecs(i) = vecs(200))
    (7001 until 7003).foreach(i => vecs(i) = vecs(7000))
    Array.tabulate(n) { i =>
      val u = rnd.nextInt(1000)
      val v = rnd.nextInt(1000)
      val w = rnd.nextInt(100)
      val tenant =
        if (i >= 200 && i < 205) Some(Seq("ta", "tb", "ta", "tc", "ta")(i - 200))
        else if (u < 500) Some("ta") else if (u < 625) Some("tb")
        else if (u == 999) Some("tc") else if (u >= 990) None else Some("td")
      val k =
        if (i >= 200 && i < 205) (if (i % 2 == 1) "rare" else "common")
        else if (v == 7) "rare" else if (v == 8 || v == 9) "pair" else "common"
      val full = Map("h" -> (if (v < 500) "x" else "y"), "e" -> (v % 8).toString,
        "q" -> (v % 4).toString, "k" -> k, "all" -> "1")
      val meta = if (w == 0) None else if (w == 1) Some(full - "h") else Some(full)
      Row(f"r$i%05d", vecs(i), tenant, meta)
    }
  }

  private def matches(r: Row, tenant: Option[String], metaEq: Map[String, String]): Boolean =
    tenant.forall(t => r.tenant.contains(t)) &&
      metaEq.forall { case (k, v) => r.meta.exists(_.get(k).contains(v)) }

  private lazy val byId: Map[String, Row] = rows.iterator.map(r => r.id -> r).toMap

  private val engines = scala.collection.mutable.Map.empty[String, FusionEngine]

  /** One engine per metric: the 20k rows plus the null-vector row,
    * appended straight to the data dir as an external writer would
    * (the insert path rejects a null vector). */
  private def engine(metric: String): FusionEngine = engines.getOrElseUpdate(metric, {
    val e = new FusionEngine(spark, Files.createTempDirectory("graft_fs").toString)
    e.createCollection("c", CollectionConfig(dimensions = dim, distanceMetric = metric))
    val df = rows.toSeq.map(r => (r.id, r.vector.toSeq, s"content ${r.id}", r.tenant, r.meta))
      .toDF("id", "vector", "content", "tenant_id", "metadata")
    e.insert("c", df)
    e.table("c").limit(1)
      .withColumn("id", lit(NullVecId))
      .withColumn("vector", lit(null).cast("array<float>"))
      .withColumn("tenant_id", lit("tc"))
      .withColumn("metadata", map(lit("k"), lit("rare"), lit("all"), lit("1")))
      .write.mode("append").parquet(Paths.get(e.root, "c", "data").toString)
    e
  })

  private def withProp[A](v: String)(body: => A): A = {
    val old = sys.props.get(Prop)
    System.setProperty(Prop, v)
    try body finally old match {
      case Some(o) => System.setProperty(Prop, o)
      case None => System.clearProperty(Prop)
    }
  }

  /** Serial, and exactly 2-way for a 1/2 filter (≈ n/2 rows of work). */
  private val widths = Seq(s"${n + 1}", s"${n / 4}")

  private val rnd = new scala.util.Random(77)
  /** A random query, and one next to the 5-row tie group. */
  private lazy val queries: Seq[Seq[Double]] = Seq(
    Seq.fill(dim)(rnd.nextGaussian() * 0.125),
    rows(200).vector.toSeq.map(x => x.toDouble + rnd.nextGaussian() * 1e-3))

  /** (tenant, metadata equalities, topK) */
  private val cases: Seq[(Option[String], Map[String, String], Int)] = Seq(
    (Some("ta"), Map.empty, 10), // 1/2
    (Some("tb"), Map.empty, 10), // 1/8
    (Some("tc"), Map.empty, 10), // 1/1000
    (None, Map("h" -> "x"), 10), // 1/2, skips null maps and missing keys
    (None, Map("e" -> "3"), 10), // 1/8
    (None, Map("k" -> "rare"), 10), // 1/1000
    (Some("ta"), Map("all" -> "1"), 10), // 1/2 combined
    (Some("ta"), Map("q" -> "1"), 10), // 1/8 combined
    (Some("ta"), Map("k" -> "pair"), 10), // 1/1000 combined
    (Some("tb"), Map("h" -> "y", "e" -> "5"), 7), // two keys
    (Some("tc"), Map.empty, 100), // topK above the match count
    (None, Map("k" -> "rare"), 100),
    (Some("ta"), Map("k" -> "rare"), 5), // hits the tie group
    (Some("nope"), Map.empty, 10), // no match
    (None, Map("k" -> "nope"), 10),
    (Some("tc"), Map("h" -> "x", "k" -> "nope"), 10))

  for (metric <- Seq("cosine", "dotProduct", "euclidean"))
    test(s"filtered serving == unfiltered k = n post-filtered, and the job path's ids ($metric)") {
      val e = engine(metric)
      val h = e.serving("c").getOrElse(fail("collection must fit"))
      assert(h.size === n) // the null-vector row is not packed
      var compared = 0
      for (qv <- queries) {
        // the full ranking: every packed row, once, width-invariant
        val all = withProp(widths.head)(h.search(qv, topK = n + 1))
        assert(all.size === n)
        for ((tenant, metaEq, topK) <- cases) {
          val what = s"$metric tenant=$tenant meta=$metaEq topK=$topK"
          val expected = all.filter(hit => matches(byId(hit.id), tenant, metaEq))
            .take(topK).zipWithIndex.map { case (hit, r) => hit.copy(rank = r + 1) }
          val matchCount = rows.count(matches(_, tenant, metaEq))
          assert(expected.size === math.min(topK, matchCount), what)
          for (wd <- widths) {
            val served = withProp(wd)(h.search(qv, topK, tenant, metaEq))
            assert(served === expected, s"$what width=$wd")
          }
          // job path: filter-before-rank in double precision; a
          // null-vector row scores null and sorts last — not a hit
          val mf = metaEq.map { case (k, v) => MetadataFilter.eq(k, v) }.reduceOption(_ && _)
          val job = e.search("c", qv, topK + 1, tenantId = tenant, filter = mf)
            .select("id", "score").collect()
            .filter(!_.isNullAt(1)).map(r => (r.getString(0), r.getDouble(1)))
          assert(job.length === math.min(topK + 1, matchCount), what)
          def separated(i: Int): Boolean =
            (i == 0 || math.abs(job(i)._2 - job(i - 1)._2) > Kernels.FloatScoreTolerance) &&
              (i + 1 >= job.length || math.abs(job(i)._2 - job(i + 1)._2) > Kernels.FloatScoreTolerance)
          expected.indices.filter(separated).foreach { i =>
            compared += 1
            assert(expected(i).id === job(i)._1, s"$what rank ${i + 1}")
            assert(math.abs(expected(i).score - job(i)._2) <= Kernels.FloatScoreTolerance, what)
          }
        }
      }
      assert(compared > 100, s"only $compared ranks were far enough from a neighbour to compare")
    }

  test("tie groups rank by id under a filter, and the null-vector row never serves") {
    val h = engine("cosine").serving("c").getOrElse(fail("collection must fit"))
    val top = h.search(queries(1), topK = 3, tenantId = Some("ta"))
    assert(top.map(_.id) === Seq("r00200", "r00202", "r00204"))
    assert(top.map(_.score).distinct.size === 1)
    val rare = h.search(queries(1), topK = 100, tenantId = Some("tc"), metaEq = Map("k" -> "rare"))
    assert(rare.map(_.id).contains("r00203"))
    assert(!rare.map(_.id).contains(NullVecId))
  }

  test("rowsScored counts the rows the kernel scores: n unfiltered, the match count filtered") {
    val h = engine("cosine").serving("c").getOrElse(fail("collection must fit"))
    for (wd <- widths) withProp(wd) {
      val before = h.rowsScored
      h.search(queries(0), topK = 10)
      assert(h.rowsScored - before === n, s"unfiltered, width=$wd")
      for ((tenant, metaEq, topK) <- cases) {
        val b = h.rowsScored
        h.search(queries(0), topK, tenant, metaEq)
        // the null-vector row matches tc / k=rare but is never scored
        assert(h.rowsScored - b === rows.count(matches(_, tenant, metaEq)),
          s"tenant=$tenant meta=$metaEq width=$wd")
      }
    }
  }
}
