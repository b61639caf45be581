package graft.ops

import org.apache.spark.sql.Column

import graft.expressions.InterleaveBits

/** Data-layout operators: how rows are arranged ON DISK decides how
  * much of 100 TB a query has to read. Sorting by a Z-order (Morton)
  * value clusters the table on two dimensions at once, so parquet
  * min/max footer statistics prune row groups for predicates on either
  * column — the complement to `Bucketing` (which optimizes joins) for
  * scan-heavy selective queries. */
object Layout {

  /** Z-value of two non-negative integral columns (low 32 bits each;
    * native codegen'd [[InterleaveBits]] kernel). Callers with skewed
    * or floating dimensions should bucketize/rank first — Z-order
    * clusters by BIT prefix, so dimensions should use comparable bit
    * ranges for balanced pruning. */
  def zvalue(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(InterleaveBits(
      org.apache.spark.sql.GraftColumnBridge.expression(a.cast("long")),
      org.apache.spark.sql.GraftColumnBridge.expression(b.cast("long"))))
}
