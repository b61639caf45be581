package graft.expressions

import org.apache.spark.sql.{Column, GraftColumnBridge}

/** Column-level entry points for the r17 decode kernels — the shared
  * replacements for the `conv(substring(hex, pos, len), 16, 10)` /
  * `conv(bits, 2, 10)` idiom that recurs across fingerprint gates,
  * deterministic samplers, FIM cuts, bootstrap draws, and SimHash
  * words. Same values on the engine-produced digit-string domain
  * (pinned by RadixSliceLongSpec), a fraction of the per-row cost. */
object Kernels {

  /** `conv(substring(c, pos, len), 16, 10).cast("long")` — in-place
    * hex decode, len <= 15 (60 bits). */
  def hexSliceLong(c: Column, pos: Int, len: Int): Column =
    GraftColumnBridge.column(RadixSliceLong(
      GraftColumnBridge.expression(c), pos, len, 16))

  /** `conv(substring(c, pos, len), 2, 10)` as a signed 64-bit word —
    * at len = 64 the fold wraps into the sign bit (the two's-
    * complement assembly [[graft.ops.Dedup]] built from two halves). */
  def binSliceLong(c: Column, pos: Int, len: Int): Column =
    GraftColumnBridge.column(RadixSliceLong(
      GraftColumnBridge.expression(c), pos, len, 2))
}
