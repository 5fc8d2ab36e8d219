package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over `ARRAY<FLOAT>` / `ARRAY<DOUBLE>` columns.
  *
  * Semantics match the reference's distance kernels
  * (`/root/reference/src/core/HNSWIndex.js:443-479`): cosine distance is
  * `1 - dot` on unit-normalized vectors, euclidean is the L2 norm of the
  * difference, and `dotProduct` ordering negates the raw dot product.
  *
  * All arithmetic is done in DOUBLE (inputs are cast), with strictly
  * left-to-right accumulation via `aggregate`, so results are deterministic
  * and reproducible against external oracles. Everything here is built from
  * Spark higher-order functions (`zip_with` / `aggregate` / `transform`),
  * which stay inside whole-stage codegen — no UDF boundary, no
  * serialization, scales linearly with partition count at 100 TB.
  */
object VectorFunctions {

  private def asD(c: Column): Column = c.cast("array<double>")

  /** Σ a_i * b_i, left-to-right, in double precision. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(asD(a), asD(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Σ a_i^2 — squared L2 norm. */
  def normSq(a: Column): Column = dotProduct(a, a)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity for arbitrary (not necessarily unit) vectors. */
  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (norm(a) * norm(b))

  /** Cosine distance `1 - sim` (reference `HNSWIndex.js:446-451`). */
  def cosineDistance(a: Column, b: Column): Column =
    lit(1.0) - cosineSimilarity(a, b)

  /** Squared euclidean distance. */
  def euclideanDistanceSq(a: Column, b: Column): Column =
    aggregate(zip_with(asD(a), asD(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Euclidean distance (reference `HNSWIndex.js:452-460`). */
  def euclideanDistance(a: Column, b: Column): Column =
    sqrt(euclideanDistanceSq(a, b))

  /** Negated dot product used as a "distance" for ordering
    * (reference `HNSWIndex.js:461-466`). */
  def dotProductDistance(a: Column, b: Column): Column =
    -dotProduct(a, b)

  /** `score = 1 - distance` (reference `HNSWIndex.js:307`); can be
    * negative for euclidean/dotProduct — preserved deliberately. */
  def score(distance: Column): Column = lit(1.0) - distance

  /** Unit-normalize a vector column; zero vectors pass through unchanged
    * (reference `HNSWIndex.js:472-479` divides only when norm > 0).
    * Normalize once at ingest so cosine reduces to a dot product at query
    * time — the same trick the reference applies at insert.
    *
    * The squared norm is folded ONCE per row and handed to the divide
    * through `aggregate`'s finish lambda: a `norm(v)` written inside the
    * `transform` lambda is re-evaluated for every element (d² work per
    * row). Same products, same left-to-right sum, same sqrt and divide
    * as that form, so the output is bit-identical to it. */
  def l2Normalize(v: Column): Column =
    aggregate(asD(v), lit(0.0), (acc, x) => acc + x * x,
      sq => when(sq > 0.0, transform(asD(v), x => x / sqrt(sq))).otherwise(asD(v)))

  /** Literal query vector as an `ARRAY<DOUBLE>` column (broadcast by
    * Catalyst as a constant — no shuffle, no join). */
  def vecLit(q: Seq[Double]): Column = array(q.map(lit): _*)
}
