package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering — the write-side layout optimization that
  * makes parquet min/max statistics selective on MORE THAN ONE column.
  *
  * A file sorted linearly on x has tight x-ranges per row group but
  * arbitrary y-ranges: a predicate on y skips nothing. Interleaving the
  * bits of (x, y) into one sort key gives every row group a bounded
  * rectangle in (x, y) space, so range predicates on either column (or
  * both) prune row groups/files via footer stats alone — no index, no
  * extra storage, just ordering. This is what Delta's OPTIMIZE ZORDER BY
  * does; here it is a pure DataFrame transform.
  *
  * At 100 TB the win compounds: data skipping happens at PLANNING/reader
  * level, before any task touches the bytes. The clustering write itself
  * is one range repartition + local sort — the same cost as any sorted
  * write.
  *
  * Inputs are int "ranks" in [0, 2^bits): callers bucket raw values
  * first (e.g. epoch-seconds >> 16, or an id modulo) — rank resolution
  * only affects skipping granularity, not correctness. The registry's
  * layout audits (`zord1_zorder_layout`, `skip1_skipping_stats`) build
  * their Morton codes with [[zValue]] over 8-bit ranks.
  */
object ZOrder {

  /** Morton code: interleave the low `bits` bits of a and b
    * (a gets the even positions, b the odd). Pure bitwise Column
    * expression — codegen'd, no UDF.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Cluster `df` for (a, b) data skipping: range-partition then locally
    * sort by the z-value, so row groups and files cover compact Morton
    * ranges (= bounded rectangles in (a, b) space). Write the result
    * with `maxRecordsPerFile`/parquet block sizing to control skipping
    * granularity.
    */
  def cluster(
      df: DataFrame,
      a: Column,
      b: Column,
      numPartitions: Int,
      bits: Int = 16,
  ): DataFrame = {
    val z = zValue(a, b, bits)
    df.repartitionByRange(numPartitions, z).sortWithinPartitions(z)
  }
}
