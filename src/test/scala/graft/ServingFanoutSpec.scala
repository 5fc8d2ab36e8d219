package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The serving fan-out knob (`graft.serving.minRowsPerWorker`) may only
  * change latency, never rows: single-query and fleet results must be
  * identical whether the packed scan runs serial, 2-way, or fully
  * parallel (worker-local heaps merge with the same tie-breaking as
  * the final rank). Pinned for every resident session kind. */
class ServingFanoutSpec extends AnyFunSuite with BeforeAndAfterAll {
  import graft.ann.{Ann, Pq}
  import graft.search.{PackedIndex, ServingSession}

  private val Prop = "graft.serving.minRowsPerWorker"
  private val dim = 32
  private val n = 20000 // above the parallel threshold
  private val rnd = new scala.util.Random(11)
  private lazy val idx = ServingSession.fromLocalRows(
    Iterator.tabulate(n)(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1))), dim)
  private val queries = Seq.tabulate(8)(qi =>
    (qi.toLong, Array.fill(dim)(rnd.nextDouble() * 2 - 1)))

  private def withProp[A](v: String)(body: => A): A = {
    val old = sys.props.get(Prop)
    System.setProperty(Prop, v)
    try body finally old match {
      case Some(o) => System.setProperty(Prop, o)
      case None => System.clearProperty(Prop)
    }
  }

  // serial (one worker), few big workers, max fan-out
  private val fanouts = Seq(s"${n + 1}", "8192", "512")

  test("searchOne rows identical across fan-out widths") {
    val ref = withProp(fanouts.head)(idx.searchOne(queries.head._2, 10))
    assert(ref.size === 10)
    fanouts.tail.foreach { f =>
      assert(withProp(f)(idx.searchOne(queries.head._2, 10)) === ref,
        s"fan-out $f diverged")
    }
  }

  test("fleet rows identical across fan-out widths") {
    val ref = withProp(fanouts.head)(idx.search(queries, 10))
    assert(ref.size === queries.size * 10)
    fanouts.tail.foreach { f =>
      assert(withProp(f)(idx.search(queries, 10)) === ref, s"fan-out $f diverged")
    }
  }

  // ---- the compressed and cell-pruned sessions ----------------------

  /** Serial (`rows + 1`), exactly 2-way (`rows / 2`), and the widths the
    * exact tests above sweep — `rows` is the scan's work in
    * row-equivalents: probed rows for one query, rows × queries for a
    * fleet (so a fleet's `n + 1` width above still fans out). */
  private def assertWidthInvariant[A](rows: Long, what: String)(run: => Seq[A]): Unit = {
    val widths = Seq(rows + 1, rows / 2, 8192L, 512L).map(_.toString)
    val ref = withProp(widths.head)(run)
    assert(ref.nonEmpty, what)
    widths.tail.foreach { w =>
      assert(withProp(w)(run) === ref, s"$what: fan-out $w diverged")
    }
  }

  private val data = new scala.util.Random(29)
  private def unit(v: Array[Double]): Array[Double] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }
  private def corpus(rows: Int, d: Int): Seq[(Long, Array[Float])] =
    Seq.tabulate(rows)(i =>
      (i.toLong, unit(Array.fill(d)(data.nextGaussian())).map(_.toFloat)))
  private def cellTable(rows: Seq[(Long, Array[Float])], model: Ann.IvfModel) = {
    val spark = TestSpark.spark
    import spark.implicits._
    Ann.assignCells(rows.toDF("vec_id", "embedding"), "embedding", "vec_id", model).cache()
  }
  private def unitCentroids(nCells: Int, d: Int) =
    Ann.IvfModel(Array.fill(nCells)(unit(Array.fill(d)(data.nextGaussian()))))
  private def fleet(d: Int) = Seq.tabulate(8)(qi =>
    (qi.toLong, unit(Array.fill(d)(data.nextGaussian())).toSeq))

  private val built = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
  override def afterAll(): Unit = built.foreach(_())

  // 20k rows in 4 cells: a full probe scans every row, a 3-cell probe ~3/4
  private lazy val ivfCells = {
    val model = unitCentroids(4, dim)
    val cells = cellTable(corpus(n, dim), model)
    built += (() => { cells.unpersist(); () })
    (model, cells)
  }
  private lazy val ivfQueries = fleet(dim)

  test("exact fleet rows identical from a serial scan up (work = rows x queries)") {
    assertWidthInvariant(n.toLong * queries.size, "exact fleet")(idx.search(queries, 10))
  }

  test("Sq8 searchOne and fleet rows identical across fan-out widths") {
    val sq8 = ServingSession.fromLocalRowsSq8(corpus(n, dim).iterator, dim)
    val fleetQ = ivfQueries.map { case (q, v) => (q, v.toArray) }
    assertWidthInvariant(n, "sq8 single")(sq8.searchOne(fleetQ.head._2, 10))
    assertWidthInvariant(n.toLong * fleetQ.size, "sq8 fleet") {
      val r = sq8.search(fleetQ, 10); assert(r.size === fleetQ.size * 10); r
    }
  }

  test("Ivf searchOne and fleet rows identical across fan-out widths") {
    val (model, cells) = ivfCells
    val packed = PackedIndex.buildIvf(cells, model)
    built += (() => packed.unpersist())
    val ivf = ServingSession.fromIvf(packed).getOrElse(fail("20k rows must fit"))
    for (nProbe <- Seq(model.nCells, model.nCells - 1)) {
      assertWidthInvariant(n, s"ivf single nProbe=$nProbe")(
        ivf.searchOne(ivfQueries.head._2, 10, nProbe))
      assertWidthInvariant(n, s"ivf fleet nProbe=$nProbe") {
        val r = ivf.search(ivfQueries, 10, nProbe); assert(r.size === ivfQueries.size * 10); r
      }
    }
  }

  test("IvfSq8 searchOne and fleet rows identical across fan-out widths") {
    val (model, cells) = ivfCells
    val packed = PackedIndex.buildIvfSq8(cells, model)
    built += (() => packed.unpersist())
    val ivfSq8 = ServingSession.fromIvfSq8(packed).getOrElse(fail("20k rows must fit"))
    for (nProbe <- Seq(model.nCells, model.nCells - 1)) {
      assertWidthInvariant(n, s"ivfSq8 single nProbe=$nProbe")(
        ivfSq8.searchOne(ivfQueries.head._2, 10, nProbe))
      assertWidthInvariant(n, s"ivfSq8 fleet nProbe=$nProbe") {
        val r = ivfSq8.search(ivfQueries, 10, nProbe); assert(r.size === ivfQueries.size * 10); r
      }
    }
  }

  test("IvfPq (residual) searchOne and fleet rows identical across fan-out widths") {
    // the PQ scan fans out only past 64 Ki probed rows: 70k rows, full probe
    val pqRows = 70000
    val pqDim = 16
    val model = unitCentroids(4, pqDim)
    val cells = cellTable(corpus(pqRows, pqDim), model)
    built += (() => { cells.unpersist(); () })
    val pq = Pq.trainResidual(cells, model, m = 4, maxTrain = 2000, iters = 4)
    val packed = PackedIndex.buildIvfPq(Pq.encodeCells(cells, pq, residualIvf = Some(model)), model, pq)
    built += (() => packed.unpersist())
    val ivfPq = ServingSession.fromIvfPq(packed).getOrElse(fail("70k codes must fit"))
    assert(ivfPq.residual)
    val pqQueries = fleet(pqDim)
    assertWidthInvariant(pqRows, "ivfPq single")(
      ivfPq.searchOne(pqQueries.head._2, 10, model.nCells))
    assertWidthInvariant(pqRows, "ivfPq fleet") {
      val r = ivfPq.search(pqQueries, 10, model.nCells); assert(r.size === pqQueries.size * 10); r
    }
  }
}
