package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The range-bucket prefix scan behind every global-order result (a
  * global or per-group rank, running sum or running max) that never
  * runs a single-partition window — the sampled total-order
  * partitioning of MapReduce.
  *
  * Pass 1: approx-quantile bounds of `key` cut each group's key range
  * into `buckets` range buckets; any monotone split is exact, because
  * equal keys share a bucket, so the key order is the bucket
  * concatenation and the bounds only decide balance. Each bucket's
  * `value` aggregate is folded in bucket order with array HOFs over the
  * ≤ `buckets`-entry per-group array. Pass 2 is the caller's own
  * window, partitioned by `groups :+ "__bucket"`, which adds the
  * bucket's prefix to its within-bucket result. At 100 TB only
  * `buckets` grows; no window partition holds more than one bucket of
  * one group.
  *
  * Returns `df` plus
  *  - `__bucket`: the row's bucket within its group, numbered in key
  *    order, highest keys first when `descending`. A NULL key sorts
  *    first ascending and last descending (Spark's default null order),
  *    as the caller's window must;
  *  - `__prefix`: `value` folded with `combine` from `zero` over every
  *    earlier bucket of the group (`zero` for the first);
  *  - `__total`: the same fold over all of the group's buckets.
  *
  * Groups match null-safely: NULL is one group, as in `groupBy` and
  * PARTITION BY. The groups must be metadata-scale, since the bounds
  * and prefix tables carry ≤ |groups|·buckets rows and are broadcast.
  * `combine`'s result and `zero` must share `value`'s type. */
private[graft] object RangeScan {

  def apply(df: DataFrame, groups: Seq[String], key: Column, buckets: Int,
            descending: Boolean, value: Column, zero: Column)(
      combine: (Column, Column) => Column): DataFrame = {
    val gs = groups.map(col)
    val qs = (1 until buckets).map(_.toDouble / buckets)
    // the sketch must outresolve the bucket count, or adjacent bounds
    // collapse into one oversized bucket
    val accuracy = math.max(1000, 20 * buckets)
    val bounds = df.groupBy(gs: _*)
      .agg(percentile_approx(key, typedlit(qs), lit(accuracy)).as("__bounds"))
    // bounds strictly below the key (NULL for a group of NULL keys,
    // whose bounds are NULL: its rows still share one bucket)
    val below = size(filter(col("__bounds"), b => key > b))
    val bucketed = attach(df, bounds, groups)
      .withColumn("__bucket", if (descending) lit(buckets - 1) - below else below)
      .drop("__bounds")
    def fold(arr: Column): Column = aggregate(arr, zero, (a, y) => combine(a, y.getField("__v")))
    val prefixes = bucketed.groupBy(gs :+ col("__bucket"): _*).agg(value.as("__v"))
      .groupBy(gs: _*)
      .agg(array_sort(collect_list(struct(col("__bucket"), col("__v")))).as("__arr"))
      .select(gs ++ Seq(
        explode(transform(col("__arr"), (x, i) =>
          struct(x.getField("__bucket").as("__bucket"),
                 fold(slice(col("__arr"), lit(1), i)).as("__prefix")))).as("__s"),
        fold(col("__arr")).as("__total")): _*)
      .select(gs ++ Seq(col("__s.__bucket"), col("__s.__prefix"), col("__total")): _*)
    attach(bucketed, prefixes, groups :+ "__bucket")
  }

  /** `left` joined with the broadcast `right` on null-safe equality of
    * `keys`; `right`'s copies of the keys are dropped. With no keys
    * this plans the same broadcast nested-loop join as a cross join. */
  private def attach(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame = {
    val r = right.select(right.columns.toSeq.map(c =>
      if (keys.contains(c)) col(c).as(s"__r$c") else col(c)): _*)
    left.join(broadcast(r), keys.map(k => col(k) <=> col(s"__r$k")).foldLeft(lit(true))(_ && _))
      .drop(keys.map(k => s"__r$k"): _*)
  }
}
