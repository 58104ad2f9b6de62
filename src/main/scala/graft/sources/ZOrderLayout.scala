package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) at-rest layout for MULTI-dimensional data
  * skipping (SURVEY §4.3).
  *
  * Sorting a table on one column makes that column's per-file min/max
  * ranges narrow (parquet row-group / file pruning works), but leaves
  * every OTHER filter column's per-file range at ~100% of the global
  * range — a two-dimensional filter still reads every file. Z-ordering
  * interleaves the bits of per-column quantile-bucket ids into one sort
  * key, so file locality is shared across the dimensions: at 100 TB a
  * `WHERE ts BETWEEN … AND user_bucket = …` scan prunes on BOTH
  * predicates instead of one. This is the standard lakehouse clustering
  * technique (Delta/Iceberg `OPTIMIZE ZORDER BY`), built here from
  * plain Spark primitives:
  *
  *  1. per-column QUANTILE split points from `stat.approxQuantile`
  *     (driver-side, bounded: 2^bits − 1 doubles per column — the
  *     Greenwald–Khanna sketch runs distributed; quantile buckets, not
  *     equi-width, so skewed columns still spread across buckets);
  *  2. bucket id = Σ [value ≥ cutoff] (a ≤ 15-term codegen sum at the
  *     default 4 bits/dim — no UDF);
  *  3. Morton key = bit-interleave of the bucket ids;
  *  4. `repartitionByRange(files, z)` + `sortWithinPartitions(z)` +
  *     parquet write — range placement makes files own CONTIGUOUS
  *     z-ranges, which is exactly what gives every dimension narrow
  *     per-file ranges.
  *
  * The layout changes WHERE rows live, never WHAT they are — readers
  * see the same table and prune via ordinary parquet min/max stats
  * (ZOrderLayoutSpec measures the per-file range narrowing on both
  * dimensions against a single-column sort). Nulls order first via the
  * bucket-0 convention (they fail every ≥ cutoff test).
  */
object ZOrderLayout {

  /** Morton-interleave `bits`-bit bucket columns (dimension 0 owns the
    * even bit positions counted from the LSB). */
  private def morton(buckets: Seq[Column], bits: Int): Column =
    (0 until bits).flatMap { b =>
      buckets.zipWithIndex.map { case (c, d) =>
        shiftleft(shiftright(c, b).bitwiseAND(lit(1)),
          b * buckets.length + d)
      }
    }.reduce(_ + _)

  /** Quantile-bucket id (0 … 2^bits − 1) for `c` given ascending split
    * points: a flat codegen sum of >-cutoff indicators. STRICT > —
    * approxQuantile returns data ELEMENTS, so on clustered/discrete
    * columns every cut lands exactly on a cluster value; ≥ would merge
    * that whole cluster into the upper bucket (measured: 4 equal
    * clusters collapsed to 3 buckets), while > keeps the cut's own
    * cluster below it. Nulls fail every test → bucket 0. */
  private[sources] def bucketOf(c: Column, cuts: Array[Double]): Column =
    cuts.map(cut => when(c.cast("double") > cut, 1).otherwise(0))
      .reduce(_ + _)

  private[sources] def quantileCuts(df: DataFrame, c: String,
                                    bits: Int): Array[Double] = {
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    df.stat.approxQuantile(c, probs, 0.001)
  }

  /** Compute the z-value column for `df` over `cols` (each bucketed
    * into 2^bits quantile buckets). Exposed for the spec. */
  def zValue(df: DataFrame, cols: Seq[String], bits: Int): Column = {
    require(cols.size >= 2 && cols.size <= 4, "z-order needs 2..4 columns")
    require(bits >= 2 && bits <= 8, "need 2 <= bits <= 8")
    morton(cols.map(c => bucketOf(col(c), quantileCuts(df, c, bits))), bits)
  }

  /** Write `df` z-ordered on `cols` to `path` as `files` parquet files
    * (one contiguous z-range per file). */
  def zorderWrite(df: DataFrame, path: String, cols: Seq[String],
                  bits: Int = 4, files: Int = 8): Unit = {
    val z = zValue(df, cols, bits)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
