package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.{ColumnShim, DotProduct, HammingDistance, IvfCellScores, IvfNearestCell, MicroSquaredDistance, PqAdcLut, PqNearestCode, MatVecRound6, SignBuckets, SubvectorDist2, VectorSubtract}

/**
 * Column-level entry points for graft's native vector expressions (see
 * [[org.apache.spark.sql.graftshim.DotProduct]] for why these are custom
 * codegen'd Catalyst expressions rather than higher-order functions).
 */
object VectorFunctions {

  /** Σ aᵢ·bᵢ over two `ARRAY<DOUBLE>` columns — whole-stage-codegen'd. */
  def dotp(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Byte-wise Hamming distance of two (ASCII sketch) strings —
    * whole-stage-codegen'd. */
  def hamming(a: Column, b: Column): Column =
    ColumnShim.column(HammingDistance(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Element-wise a − b over two `ARRAY<DOUBLE>` columns — the residual
    * map of residual PQ, whole-stage-codegen'd (`zip_with` is
    * CodegenFallback). */
  def vsub(a: Column, b: Column): Column =
    ColumnShim.column(VectorSubtract(ColumnShim.expression(a),
      ColumnShim.expression(b)))

  /** Σ round((aᵢ−bᵢ)²·10⁶) as LONG over two `ARRAY<DOUBLE>` columns —
    * the summation-order-proof µ-scaled squared L2 distance,
    * whole-stage-codegen'd. */
  def l2mu(a: Column, b: Column): Column =
    ColumnShim.column(MicroSquaredDistance(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Σ (a[offset+i] − b[i])² over i < len(b), left-assoc —
    * whole-stage-codegen'd subvector distance (the PQ assignment
    * scalar). */
  def subdist2(a: Column, b: Column, offset: Column): Column =
    ColumnShim.column(SubvectorDist2(ColumnShim.expression(a),
      ColumnShim.expression(b), ColumnShim.expression(offset)))

  /** Per-subspace PQ assignment over a whole k×sub codebook literal:
    * argmin of 6-dp-rounded subvector distances, ties to the smaller
    * code id, as `struct(d, cid)` — one codegen'd node instead of an
    * m·k struct-min tree (see
    * [[org.apache.spark.sql.graftshim.PqExpressions]]). */
  def pqNearest(v: Column, codebook: Column, offset: Column): Column =
    ColumnShim.column(PqNearestCode(ColumnShim.expression(v),
      ColumnShim.expression(codebook), ColumnShim.expression(offset)))

  /** Per-subspace ADC lookup-table row (k µ-scaled long entries) over a
    * whole k×sub codebook literal — one codegen'd node. */
  def pqAdcLut(v: Column, codebook: Column, offset: Column): Column =
    ColumnShim.column(PqAdcLut(ColumnShim.expression(v),
      ColumnShim.expression(codebook), ColumnShim.expression(offset)))

  /** IVF coarse-cell argmax over a packed centroid-table literal
    * (row = [cellId, cnrm, coords…]) — one codegen'd node; see
    * [[org.apache.spark.sql.graftshim.IvfNearestCell]]. */
  def ivfNearestCell(v: Column, nrm: Column, packed: Column): Column =
    ColumnShim.column(IvfNearestCell(ColumnShim.expression(v),
      ColumnShim.expression(nrm), ColumnShim.expression(packed)))

  /** All IVF cell scores ([cc, cid] per centroid, table order) over the
    * same packed centroid-table literal — one codegen'd node for the
    * probe side; see [[org.apache.spark.sql.graftshim.IvfCellScores]]. */
  def ivfCellScores(v: Column, nrm: Column, packed: Column): Column =
    ColumnShim.column(IvfCellScores(ColumnShim.expression(v),
      ColumnShim.expression(nrm), ColumnShim.expression(packed)))

  /** Coordinate-sign LSH bucket strings, one per table, as a single
    * codegen'd node; see
    * [[org.apache.spark.sql.graftshim.SignBuckets]]. */
  def signBuckets(v: Column, bits: Column, tables: Column): Column =
    ColumnShim.column(SignBuckets(ColumnShim.expression(v),
      ColumnShim.expression(bits), ColumnShim.expression(tables)))

  /** 6-dp-rounded matrix–vector projection over a literal row matrix —
    * one codegen'd node; see
    * [[org.apache.spark.sql.graftshim.MatVecRound6]]. */
  def matvecRound6(v: Column, rows: Column, divisor: Column): Column =
    ColumnShim.column(MatVecRound6(ColumnShim.expression(v),
      ColumnShim.expression(rows), ColumnShim.expression(divisor)))
}
