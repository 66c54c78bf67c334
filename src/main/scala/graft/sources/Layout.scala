package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.LayoutExpressions

/** Multi-dimensional data layout for scan locality.
  *
  * A 100 TB table is pruned, not scanned: parquet keeps per-row-group
  * min/max stats, and Spark skips row groups whose stats exclude the
  * predicate. A single-column sort gives tight stats on ONE column only; a
  * conjunctive predicate on two columns (user × time, key × date) still
  * reads almost everything. Z-ORDER clustering sorts by the Morton
  * interleave of both columns, so every file covers a small rectangle of
  * the 2-D space and BOTH columns' stats are tight — the standard
  * lakehouse technique (classic multi-dimensional indexing applied to
  * columnar files). Measured duel: BASELINE.md round 5, "Z-order layout
  * pruning duel".
  */
object Layout {

  /** Z-order clustered parquet write: min-max-normalize both dimensions
    * into `bits`-bit integers, range-partition on their Morton code into
    * `numFiles` roughly-equal ranges, sort within each, drop the key,
    * write.
    *
    * The normalization is LOAD-BEARING, not cosmetic: interleaving raw
    * values gives the wider dimension's high bits total dominance — a
    * (user_id ≤ 2⁸, epoch_micros ~2⁴¹) pair degenerates to a plain time
    * sort and the user column's file stats stay as loose as a hash layout
    * (LayoutSpec pins the non-degenerate behavior). Scaling both to the
    * same bit width makes the interleave a true 2-D grid. Skewed dims
    * yield uneven grid cells but still tight per-file stats; use a rank
    * transform upstream for pathological skew.
    *
    * Cost: one 4-value min/max aggregate (driver-side scalars only), then
    * ONE range shuffle — the price of any global sort-write. */
  def zorderWrite(df: DataFrame, a: Column, b: Column, path: String,
                  numFiles: Int, bits: Int = 16): Unit = {
    val r = df.agg(min(a).cast("double"), max(a).cast("double"),
                   min(b).cast("double"), max(b).cast("double")).collect()(0)
    require(!r.anyNull, "zorderWrite: dimensions must have non-null min/max")
    val scale = (1L << bits) - 1
    def norm(c: Column, lo: Double, hi: Double): Column =
      if (hi > lo) floor((c.cast("double") - lo) / (hi - lo) * scale).cast("long")
      else lit(0L)
    df.withColumn("__z", LayoutExpressions.mortonCode(
        norm(a, r.getDouble(0), r.getDouble(1)),
        norm(b, r.getDouble(2), r.getDouble(3)), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
