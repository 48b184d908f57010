package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over `array<float>` columns, as codegen-friendly
  * built-in compositions (`zip_with` + `aggregate`). All arithmetic is
  * widened to double *before* accumulation in strict index order, so results
  * are bit-reproducible across engines and partitionings — the accumulation
  * order is the array order, never a shuffle order.
  */
object VectorFunctions {

  /** array<float> → array<double>, the precision used for all scoring. */
  def toDouble(vec: Column): Column = transform(vec, _.cast("double"))

  /** Native codegen'd dot product ([[graft.plans.VecDotProduct]], registered
    * by GraftExtensions). Bit-identical to the interpreted fold
    * `aggregate(zip_with(a, b, _*_), 0d, _+_)` — same index-order
    * accumulation — but ~two orders of magnitude faster on pairwise
    * workloads. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** The built-in-only formulation, kept as the portability fallback and the
    * semantic reference the native expression is tested against. */
  def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0d), _ + _)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine given precomputed norms (avoids recomputing norms on the big side
    * of a pairwise join). */
  def cosinePrenormed(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Sign-bit signature against `nPlanes` deterministic pseudo-random
    * hyperplanes — the random-hyperplane LSH family for cosine distance.
    * Plane coefficients are ±1 derived from xxhash64(plane, dim), identical
    * on every executor with no broadcast state. Returns array<int> of 0/1
    * bits. Native codegen'd ([[graft.plans.VecLshBits]], registered by
    * GraftExtensions) — a compiled nested loop instead of nPlanes × dim
    * interpreted lambda closures; bit-identical to
    * [[hyperplaneBitsBuiltin]], which it is tested against. */
  def hyperplaneBits(vec: Column, nPlanes: Int): Column =
    call_function("vec_lsh_bits", vec, lit(nPlanes))

  /** The built-in-only formulation, kept as the portability fallback and
    * the semantic reference the native expression is tested against. */
  def hyperplaneBitsBuiltin(vec: Column, nPlanes: Int): Column =
    transform(sequence(lit(0), lit(nPlanes - 1)), p => {
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => when(pmod(xxhash64(p, i), lit(2)) === 0, x).otherwise(-x)),
        lit(0.0d), _ + _)
      when(proj >= 0, 1).otherwise(0)
    })

  /** Pack a bit array into a single long bucket id (≤ 63 bits). */
  def packBits(bits: Column): Column =
    aggregate(bits, lit(0L), (acc, b) => shiftleft(acc, 1) + b)
}
