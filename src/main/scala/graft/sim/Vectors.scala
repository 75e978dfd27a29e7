package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import graft.functions.{DotProductD, HammingDist, L2NormD, SignPack}

/** Vector math over `array<float>` embedding columns, backed by graft's
  * native codegen expressions (graft.functions.DotProductD / L2NormD) —
  * the higher-order-function formulation is interpreted and allocates an
  * intermediate array per evaluation, which dominates all-pairs joins.
  * Each helper wraps its expression directly into the Column, so it
  * needs no function registration and resolves in any session.
  *
  * Precision contract: every product/sum is computed in DOUBLE with a
  * sequential left fold, matching the DuckDB oracle's
  * `list_sum(list_transform(...))` on ::DOUBLE casts — so cosine values
  * agree to far better than the 1e-6 comparison tolerance.
  */
object Vectors {

  /** Sequential-fold double dot product of two float vectors. */
  def dotD(a: Column, b: Column): Column =
    column(DotProductD(expression(a), expression(b)))

  /** Euclidean norm in double. */
  def normD(a: Column): Column = column(L2NormD(expression(a)))

  /** Cosine similarity given precomputed norms (precompute per row before
    * a pair join so each norm is evaluated once, not once per pair).
    *
    * A zero norm makes the cosine undefined — and under Spark 4's
    * default ANSI mode a plain division would throw DIVIDE_BY_ZERO and
    * kill the whole job over one dead/failed embedding (a routine
    * artifact in a 100 TB corpus). The undefined case yields NULL
    * instead: `cos >= τ` filters drop it and `cos.desc` ranks it last
    * (desc is NULLS LAST), so garbage rows can never crash a job, match
    * a threshold, or displace real candidates — the same
    * garbage-sorts-last contract NearestCells documents.
    */
  def cosineWithNorms(dot: Column, normA: Column, normB: Column): Column =
    when(normA * normB > 0, dot / (normA * normB))

  /** Cosine similarity of two raw vectors. */
  def cosine(a: Column, b: Column): Column =
    cosineWithNorms(dotD(a, b), normD(a), normD(b))

  /** Sign-bit code: array<float> → array<long> (bit i = vec[i] > 0). */
  def signPack(a: Column): Column = column(SignPack(expression(a)))

  /** Hamming distance between two packed sign codes. */
  def hamming(a: Column, b: Column): Column =
    column(HammingDist(expression(a), expression(b)))
}
