package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

class VectorFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Double =
    Seq(1).toDF("x").select(c.cast("double")).head.getDouble(0)

  test("dot product") {
    assert(one(dotProduct(vecLit(Seq(1, 2, 3)), vecLit(Seq(4, 5, 6)))) == 32.0)
  }

  test("cosine similarity of identical vectors is 1") {
    assert(math.abs(one(cosineSimilarity(vecLit(Seq(0.5, 0.5)), vecLit(Seq(0.5, 0.5)))) - 1.0) < 1e-12)
  }

  test("cosine distance of orthogonal vectors is 1") {
    assert(math.abs(one(cosineDistance(vecLit(Seq(1, 0)), vecLit(Seq(0, 1)))) - 1.0) < 1e-12)
  }

  test("euclidean distance") {
    assert(one(euclideanDistance(vecLit(Seq(0, 0)), vecLit(Seq(3, 4)))) == 5.0)
  }

  test("score = 1 - distance can go negative (reference quirk preserved)") {
    assert(one(score(euclideanDistance(vecLit(Seq(0, 0)), vecLit(Seq(3, 4))))) == -4.0)
  }

  test("l2Normalize yields unit norm; zero vector passes through") {
    val df = Seq((Array(3.0f, 4.0f), Array(0.0f, 0.0f))).toDF("v", "z")
    val row = df.select(
      norm(l2Normalize($"v")).as("n"),
      l2Normalize($"z").as("zn")).head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getSeq[Double](1) == Seq(0.0, 0.0))
  }

  test("l2Normalize is bit-identical to the per-element norm(v) form on float and double rows") {
    // the form it replaced: norm(v) inside the transform lambda
    def perElementNorm(v: org.apache.spark.sql.Column) = {
      val n = norm(v)
      when(n > 0.0, transform(v.cast("array<double>"), x => x / n))
        .otherwise(v.cast("array<double>"))
    }
    val rnd = new scala.util.Random(17)
    val dims = Seq(1, 1, 2, 3, 7, 64, 128, 384)
    val doubles = dims.map(d => Array.fill(d)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3))) ++
      Seq(Array(0.0), Array.fill(16)(0.0), Array(-0.0, 0.0), Array(1e-300, 1e-300), Array(3.0, 4.0))
    val floats = doubles.map(_.map(_.toFloat)) :+ Array(Float.MinPositiveValue, 1e30f)
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.select(l2Normalize($"v"), perElementNorm($"v")).collect()
      rows.foreach { r =>
        val (got, want) = (r.getSeq[Double](0), r.getSeq[Double](1))
        assert(got.map(java.lang.Double.doubleToRawLongBits) ==
          want.map(java.lang.Double.doubleToRawLongBits), s"$got vs $want")
      }
    }
    check(doubles.toDF("v"))
    check(floats.toDF("v"))
    // null rows and null elements pass through as the old form did
    val nulls = Seq(Some(Seq[java.lang.Double](1.0, null)), None).toDF("v")
    val got = nulls.select(l2Normalize($"v"), perElementNorm($"v")).collect()
    assert(got.forall(r => r.get(0) == r.get(1)))
  }

  test("QueryScore native expression: bit-parity with the HOF forms on all four modes") {
    import graft.functions.QueryScore
    import graft.search.VectorSearch
    val rnd = new scala.util.Random(7)
    val dim = 19 // odd, non-multiple-of-4: exercises the loop tail
    val q = Seq.fill(dim)(rnd.nextGaussian())
    val qc = vecLit(q)
    val qNorm = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    val rows = (0 until 64).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("id", "v").cache()
    def both(native: org.apache.spark.sql.Column, hof: org.apache.spark.sql.Column): Unit = {
      val got = df.select($"id", native.as("n"), hof.as("h")).collect()
      got.foreach { r =>
        assert(r.getDouble(1) == r.getDouble(2), s"mode mismatch at id ${r.getLong(0)}")
      }
    }
    both(QueryScore($"v", q, QueryScore.Dot), dotProduct($"v", qc))
    both(QueryScore($"v", q, QueryScore.DotScore), lit(1.0) + dotProduct($"v", qc))
    both(QueryScore($"v", q, QueryScore.CosineFull),
      dotProduct($"v", qc) / (norm($"v") * lit(qNorm)))
    both(QueryScore($"v", q, QueryScore.EuclidScore), lit(1.0) - euclideanDistance($"v", qc))
    // double-element arrays hit the other getter
    val dd = rows.map { case (i, v) => (i, v.map(_.toDouble)) }.toDF("id", "v")
    val gotD = dd.select(QueryScore($"v", q, QueryScore.Dot).as("n"),
      dotProduct($"v", qc).as("h")).collect()
    gotD.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // null array / length mismatch -> null (HOF null-propagation parity)
    val edge = Seq((1L, null.asInstanceOf[Array[Float]]), (2L, Array(1f, 2f)))
      .toDF("id", "v")
    val e = edge.select(QueryScore($"v", q, QueryScore.Dot).as("n")).collect()
    assert(e.forall(_.isNullAt(0)))
    // the knn plan actually runs the native expression inside codegen
    val plan = VectorSearch.knn(df.withColumnRenamed("v", "vector")
        .withColumn("id", $"id".cast("string")), q, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("query_score"), s"expected query_score in plan:\n$plan")
    df.unpersist()
  }

  test("graft_query_score SQL function: both registration routes, parity, bad input errors") {
    import graft.functions.{QueryScore, Registry}
    Registry.register(spark) // live-session route
    val rows = (0 until 8).map(i => (i.toLong, Array.fill(6)(i * 0.5f + 1f)))
    rows.toDF("id", "v").createOrReplaceTempView("qs_t")
    val q = Seq(1.0, 0.5, 0.25, 0.125, 2.0, 1.5)
    val qSql = q.mkString("array(", ", ", ")")
    val sql = spark.sql(
      s"SELECT id, graft_query_score(v, $qSql, 'cosine') AS s FROM qs_t ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dsl = rows.toDF("id", "v")
      .select($"id", QueryScore($"v", q, QueryScore.CosineFull).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sql == dsl)
    // extensions route shares the identical descriptions
    assert(Registry.descriptions.map(_._1.funcName).contains("graft_query_score"))
    // non-literal query / unknown mode fail analysis, not silently
    assertThrows[Exception](spark.sql(
      "SELECT graft_query_score(v, v, 'cosine') FROM qs_t").collect())
    assertThrows[Exception](spark.sql(
      s"SELECT graft_query_score(v, $qSql, 'nope') FROM qs_t").collect())
  }

  test("text-analysis SQL functions mirror the Column API exactly") {
    import graft.functions.Registry
    import graft.textanalysis.TextAnalysis
    Registry.register(spark)
    Seq((1L, "The quick brown fox email bob@corp.io and the others were there today"),
        (2L, "el la los que de una las por con para"))
      .toDF("id", "text").createOrReplaceTempView("ta_t")
    val sql = spark.sql(
      """SELECT id, graft_redact_pii(text) AS red, graft_lang_id(text) AS lang,
        |  graft_quality_flag(text) AS ok, graft_ws_tokens(text) AS ws,
        |  graft_bpeish_tokens(text) AS bpe, graft_est_tokens(text) AS est,
        |  graft_normalize_text(text) AS norm
        |FROM ta_t ORDER BY id""".stripMargin).collect().toSeq
    val dsl = spark.table("ta_t").select($"id",
        TextAnalysis.redactPii($"text").as("red"), TextAnalysis.langId($"text").as("lang"),
        TextAnalysis.qualityFlag($"text").as("ok"), TextAnalysis.wsTokenCount($"text").as("ws"),
        TextAnalysis.bpeishTokenCount($"text").as("bpe"), TextAnalysis.estTokenCount($"text").as("est"),
        TextAnalysis.normalized($"text").as("norm"))
      .orderBy($"id").collect().toSeq
    assert(sql == dsl)
    assert(sql.head.getAs[String]("red").contains("[EMAIL]"))
    assert(sql(1).getAs[String]("lang") == "es")
    assertThrows[Exception](spark.sql("SELECT graft_redact_pii(text, 1) FROM ta_t").collect())
  }

  test("knn over a tiny in-memory collection ranks nearest first") {
    import graft.search.VectorSearch
    val df = Seq(
      ("a", Array(1f, 0f, 0f, 0f)),
      ("b", Array(0f, 1f, 0f, 0f)),
      ("c", Array(0.9f, 0.1f, 0f, 0f))).toDF("id", "vector")
    val got = VectorSearch.knn(df, Seq(1.0, 0.0, 0.0, 0.0), 2).select("id").as[String].collect()
    assert(got.toSeq == Seq("a", "c"))
  }
}
