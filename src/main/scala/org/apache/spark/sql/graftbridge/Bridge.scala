package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ↔ Expression bridge. Spark 4's Connect refactor made
 * `Column.expr` / `ExpressionUtils` private[sql]; this shim (inside the
 * `org.apache.spark.sql` namespace, the standard extension-library
 * technique) re-exposes the two conversions our custom Catalyst
 * expressions need. No Spark internals are modified.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /**
   * Materialize a frame onto explicitly-OWNED storage blocks with the
   * lineage CUT: the result is a leaf scan over a persisted InternalRow
   * RDD, and the returned thunk frees those blocks deterministically.
   *
   * This is the primitive iterative algorithms need (connected-components
   * rounds): `persist()` alone keeps the growing logical plan — round k's
   * tree embeds round k−1's several times over, so driver-side analysis/
   * canonicalization work compounds geometrically per round even though
   * execution reuses the cache — and `localCheckpoint()` cuts lineage but
   * surrenders its blocks to the ContextCleaner, which only frees them
   * once the frame becomes unreachable (every round's multi-million-edge
   * blocks pile up for the whole query).
   *
   * Unlike localCheckpoint, only the CATALYST lineage is cut: the
   * persisted RDD keeps its own dependency chain, so a lost block (or a
   * post-free re-read) recomputes through ordinary RDD lineage instead
   * of failing the job — the fault-tolerance story of persist() with the
   * plan-growth story of a checkpoint.
   */
  def materializeOwned(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = classic.sparkSession
    // UnsafeRow iterators reuse the row buffer — copy so a cache-evicted
    // partition can be recomputed straight off this RDD
    val rdd = classic.queryExecution.toRdd.map(_.copy())
    // the storage is the LEAF frame's columnar cache (compressed batches,
    // codegen'd scans — a raw Row-object RDD persist measured ~1.5× slower
    // on the sf25 component rounds); the one plan execution happens here
    val out = spark.internalCreateDataFrame(rdd, classic.schema)
    out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // if the materializing job itself fails, the partially-computed blocks
    // would be owned by a frame the caller never receives — free them here
    // so failed calls leak nothing
    try out.count()
    catch { case t: Throwable => out.unpersist(blocking = false); throw t }
    (out, () => { out.unpersist(blocking = false); () })
  }

  /**
   * MEASURED storage bytes of a materialized frame — the sum of the
   * mem+disk block sizes of the persisted RDDs backing its leaf scans
   * (localCheckpoint / materializeOwned both leave a LogicalRDD whose
   * RDD is registered with the block manager). None when no persisted
   * leaf backs the frame — callers fall back to a static partition count.
   *
   * This is the honest input to SIZE-DERIVED shuffle sizing: logical
   * plan statistics for a lineage-cut leaf are just defaults, while the
   * block manager reports what the data actually occupies.
   */
  def materializedBytes(df: org.apache.spark.sql.DataFrame): Option[Long] = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val sc = classic.sparkSession.sparkContext
    val ids = classic.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    val total = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    if (total > 0) Some(total) else None
  }
}

/** Analysis-time input typing for graft's custom kernels.
  * `AbstractDataType` is `private[sql]`, so expression classes living in
  * `graft.functions` cannot write an `inputTypes` override themselves;
  * these two mixins (inside the sql namespace like [[Bridge]]) give them
  * the same analysis-time type errors the builtin expressions they
  * replaced produced, instead of a runtime ClassCastException inside
  * codegen (r16 ADVICE). */
trait ExpectsStringInput
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)
}

trait ExpectsStringArrayInput
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))
}
