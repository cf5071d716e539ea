package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator inventory, SURVEY.md §2.1–§2.8.
  *
  * Every query: (a) reads only via [[graft.Tables]], (b) ends with an
  * ORDER BY on a unique key (parity rule O), (c) rounds float
  * aggregates on both the Spark and oracle side (rule F), and
  * (d) aliases every output column identically to its oracle SQL
  * (rule N). Scale posture: no collect(), broadcast hints only on
  * dimension tables, aggregations rely on Catalyst's partial+final
  * split, sorts that feed a LIMIT compile to TakeOrderedAndProject,
  * a sort over a bounded-domain aggregate runs in its one coalesced
  * partition, and a sort led by the window keys reuses the window's
  * range exchange (README, design notes).
  */
object Relational {

  /** The executed 100 TB percentile path: when the session sets
    * `graft.percentile.approx` to true, every `percentile` in
    * q_equidepth / q_outlier_mad swaps for `approx_percentile` at
    * accuracy 10000 — the bounded-memory KLL-style sketch that
    * composes partially instead of buffering the value set, with an
    * IDENTICAL plan shape (partial+final ObjectHashAggregate). Exact
    * stays the default because the DuckDB oracle gate demands
    * cross-engine equality; ApproxPathSpec exercises the toggle and
    * pins its boundary tolerance so the swap is tested code, not a
    * scaladoc promise. */
  private[queries] def pctl(s: SparkSession,
                            c: org.apache.spark.sql.Column,
                            p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (s.conf.getOption("graft.percentile.approx").exists(_.toBoolean))
      approx_percentile(c, p, lit(10000))
    else percentile(c, p)

  // ---- §2.1 scans ---------------------------------------------------

  /** Columnar scan + projection + limit. Column pruning reaches the
    * parquet reader (ReadSchema shows only the 3 columns).
    * ORDER BY covers ALL emitted columns: (l_orderkey, l_linenumber)
    * alone is NOT unique in this data (143k duplicate pairs at sf0.1),
    * and a tie under a partial sort key is engine-arbitrary; with the
    * full projection in the key, any remaining ties are identical
    * rows — hash-equal no matter which engine picks which. */
  def q_scan_project(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
      .limit(100)

  // ---- §2.2 filters -------------------------------------------------

  /** TPC-H Q6 shape: conjunctive range predicates, all pushed to the
    * parquet scan (PushedFilters), single global aggregate. */
  def q_filter_range(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp_ntz") &&
              col("l_discount").between(0.02, 0.06) &&
              col("l_quantity") < 30)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  /** CASE/WHEN banding + conditional aggregation. */
  def q_case_band(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           sum(when(col("o_totalprice") > 100000, 1).otherwise(0)).as("n_big"))
      .coalesce(1).orderBy("o_orderpriority")

  // ---- §2.3 joins ---------------------------------------------------

  /** Map-side join reconstruction: explicit broadcast of the dimension
    * chain (region/nation always tiny; customer is a dimension at this
    * query's grain and AQE would broadcast it anyway at bench scale). */
  def q_join_broadcast(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 2).as("total_price"))
      .coalesce(1).orderBy("r_name")

  /** Large-large equi-join: MERGE hint pins sort-merge so the plan is
    * the one that survives a 100× scale-up (no accidental broadcast of
    * a fact table at test scale). */
  def q_join_shuffle(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
           round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .coalesce(1).orderBy("o_orderstatus")

  /** TPC-H Q5 shape: 6-way star join, dims broadcast, facts joined
    * smallest-first; same-nation customer/supplier residual. */
  def q_join_multiway(s: SparkSession, d: String): DataFrame = {
    val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val o96 = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
              col("o_orderdate") <  lit("1997-01-01").cast("timestamp_ntz"))
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      .join(o96, col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d),
            col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .coalesce(1).orderBy("n_name")
  }

  /** Left outer join + null-safe count (order-less customers kept). */
  def q_join_outer(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** Left semi (EXISTS): customers having ≥1 'F' order. */
  def q_semi_join(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Left anti (NOT EXISTS): customers with no URGENT order. (Plain
    * "zero orders" would be empty at correctness scale — a trivially
    * matching result that exercises nothing.) */
  def q_anti_join(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Equi-join with non-equi residual (theta): quantity > size. */
  def q_join_theta(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d),
            col("l_partkey") === col("p_partkey") && col("l_quantity") > col("p_size"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"))
      .coalesce(1).orderBy("p_brand")

  /** Bloom-prefiltered semi join (added round 8): lineitem revenue per
    * high-balance supplier, the big side pre-filtered by a bloom
    * sketch of the small side's keys BEFORE the shuffle. This query IS
    * [[graft.Graft.bloomSemiJoin]] (distributed sketch build, codegen
    * [[graft.functions.BloomMightContain]] probe at the scan, exact
    * semi join behind it — so the result is exactly the plain semi
    * join's and the oracle verifies the public API). In THIS plan the
    * small side broadcasts, so the probe only spares the join rows
    * that cannot match; the regime the operator exists for is both
    * sides too big to broadcast — there the probe cuts the big side's
    * shuffle to ~(selectivity + fpp)× the bytes, measured in
    * BloomBench / BASELINE.md ("Bloom bench": 22.8% of plain-join
    * shuffle write, identical row sets). */
  def q_bloom_join(s: SparkSession, d: String): DataFrame =
    graft.Graft.bloomSemiJoin(
        Tables.lineitem(s, d), col("l_suppkey"),
        Tables.supplier(s, d).filter(col("s_acctbal") > 4000), col("s_suppkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"),
           round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy("l_suppkey")

  /** Salted skew join (added round 8): the manual-Partitioner escape
    * hatch for a pathological key distribution, wired into a declared
    * query — this IS [[graft.Graft.saltedJoin]]
    * (operators/SkewJoin.saltedJoin): the large side salts uniformly,
    * the small side replicates `salts`×, the key becomes (key, salt)
    * so one celebrity key spreads over `salts` shuffle partitions.
    * Row-level results are identical to the unsalted join (every
    * (key, salt) pair exists on the replicated side), so the oracle is
    * the plain join. The MERGE hint pins the SHUFFLE join the salt
    * exists for — under a broadcast there is no per-key shuffle
    * bucket to splinter and the salt would be dead weight; with it
    * the exchange hashes on (key, salt) exactly as on a cluster.
    * CapabilitiesSpec proves the operator equal to the plain join on
    * a deliberately skewed corpus. */
  def q_skew_join(s: SparkSession, d: String): DataFrame =
    graft.Graft.saltedJoin(
        Tables.lineitem(s, d),
        Tables.part(s, d).select("p_partkey", "p_brand").hint("merge"),
        col("l_partkey"), col("p_partkey"), salts = 8)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
           round(sum("l_quantity"), 2).as("sum_qty"))
      .coalesce(1).orderBy("p_brand")

  // ---- §2.4 aggregations --------------------------------------------

  /** TPC-H Q1 shape — the flagship. Partial+final hash aggregation
    * (the MapReduce combiner, for free). */
  def q_agg_pricing(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
           round(sum("l_extendedprice"), 2).as("sum_base_price"),
           round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
           round(avg("l_quantity"), 2).as("avg_qty"),
           round(avg("l_extendedprice"), 2).as("avg_price"),
           count(lit(1)).as("count_order"))
      .coalesce(1).orderBy("l_returnflag", "l_linestatus")

  /** Post-aggregation filter (HAVING). */
  def q_agg_having(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
           round(max("o_totalprice"), 2).as("max_price"))
      .filter(col("n_orders") > 5)
      .orderBy("o_custkey")

  /** Exact distinct (Expand + two-phase aggregate). */
  def q_distinct_count(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("n_cust"))
      .coalesce(1).orderBy("o_orderpriority")

  /** HLL++ approximate distinct — sketch values are engine-specific, so
    * no oracle; unit-tested against exact ±5% (SURVEY §2.4). */
  def q_approx_distinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id").as("approx_users"))
      .coalesce(1).orderBy("event_type")

  /** Hierarchical grouping sets (ROLLUP) with a grouping_id bitmask.
    * Grouping-null keys are COALESCEd to sentinels so cross-engine
    * null-ordering differences can't bite (rule O/N). */
  def q_rollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 2).as("total_price"),
           grouping_id().cast("long").as("gid"))
      .select(coalesce(col("o_year"), lit(-1)).as("o_year"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
              col("n_orders"), col("total_price"), col("gid"))
      .coalesce(1).orderBy("gid", "o_year", "o_orderpriority")

  /** CUBE over (year, priority): all four grouping sets, gid bitmask,
    * grouping-nulls coalesced to sentinels (same rules as q_rollup). */
  def q_cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 2).as("total_price"),
           grouping_id().cast("long").as("gid"))
      .select(coalesce(col("o_year"), lit(-1)).as("o_year"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
              col("n_orders"), col("total_price"), col("gid"))
      .coalesce(1).orderBy("gid", "o_year", "o_orderpriority")

  /** Explicit GROUPING SETS — the general form ROLLUP/CUBE compile to:
    * a custom set list ((year, priority), (priority), ()) that neither
    * shorthand expresses (per-priority totals + detail + grand total,
    * but no per-year totals). Same sentinel/gid/ordering rules as
    * q_rollup. */
  def q_grouping_sets(s: SparkSession, d: String): DataFrame = {
    // project FIRST so the sets and the grouping cols reference the
    // same attributes — an aliased expression repeated in both lists
    // resolves as a distinct grouping column (phantom third expr,
    // wrong gid bitmask)
    val y = col("o_year"); val p = col("o_orderpriority")
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("o_year"),
              col("o_orderpriority"), col("o_totalprice"))
      .groupingSets(Seq(Seq(y, p), Seq(p), Seq()), y, p)
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 2).as("total_price"),
           grouping_id().cast("long").as("gid"))
      .select(coalesce(col("o_year"), lit(-1)).as("o_year"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
              col("n_orders"), col("total_price"), col("gid"))
      .coalesce(1).orderBy("gid", "o_year", "o_orderpriority")
  }

  /** Ordered string aggregation (LISTAGG ... WITHIN GROUP — SQL:2016,
    * new in Spark 4): nations per region as a comma-joined
    * alphabetical list. The WITHIN GROUP ordering is what makes the
    * result deterministic cross-engine (DuckDB: string_agg ORDER BY). */
  def q_listagg(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"),
           count(lit(1)).as("n_nations"))
      .coalesce(1).orderBy("r_name")

  /** Exact interpolated percentiles (median + p90) per priority —
    * Spark `percentile` ≡ DuckDB `quantile_cont`. */
  def q_percentile(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(round(expr("percentile(o_totalprice, 0.5)"), 2).as("median_price"),
           round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90_price"))
      .coalesce(1).orderBy("o_orderpriority")

  /** Boolean & bitwise aggregate family (added round 9): per
    * priority — bool_and / bool_or over a price predicate and
    * bit_and / bit_or / bit_xor folds of the customer key. ALL
    * outputs exact (booleans and integer bit-folds; XOR/AND/OR are
    * commutative-associative, so partial aggregation combines
    * map-side and the result is partitioning-independent — the same
    * property the connectedComponents convergence checksum relies
    * on). Completes §2.4's aggregate surface alongside the
    * numeric/statistical families. */
  def q_bool_bit_agg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
           bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
           bit_and(col("o_custkey")).as("key_and"),
           bit_or(col("o_custkey")).as("key_or"),
           bit_xor(col("o_custkey")).as("key_xor"))
      .coalesce(1).orderBy("o_orderpriority")

  /** Statistical aggregates: stddev / variance / correlation /
    * covariance per returnflag (rounded — sums of products differ in
    * last-ulp across engines' partial-aggregation orders). */
  def q_stats_agg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
           round(var_samp(col("l_discount")), 6).as("var_disc"),
           round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
           round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"))
      .coalesce(1).orderBy("l_returnflag")

  /** Pearson correlation matrix (added round 9): all pairwise
    * correlations of the four lineitem measures in ONE scan — the
    * feature-redundancy profile before a model ingests the table.
    * This query IS [[graft.Graft.corrMatrix]] on lineitem, so the
    * oracle verifies the public API: a single partial+final
    * aggregate holds every pair's O(1) co-moment state, the melt to
    * long format runs on the one-row result. corr rounded 4dp (the
    * q_stats_agg precedent for the same aggregate). */
  def q_corr_matrix(s: SparkSession, d: String): DataFrame =
    graft.Graft.corrMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .select(col("var_a"), col("var_b"), round(col("corr"), 4).as("corr"))
      .orderBy("var_a", "var_b")

  /** Gini coefficient of customer revenue (added round 9): how
    * concentrated is order revenue across customers — the
    * inequality scalar (0 = equal, →1 = one customer holds all).
    * This query IS [[graft.Graft.gini]] over per-customer totals, so
    * the oracle verifies the public API (its ROW_NUMBER window form
    * states the same (cents ASC, custkey DESC) total order the
    * distributed two-pass rank produces). Revenue enters as exact
    * floor-cents (the q_checksum convention) so per-customer totals
    * are integer-identical across engines and the rank order cannot
    * flap on float-sum ulps; gini rounded (rule F). */
  def q_gini(s: SparkSession, d: String): DataFrame =
    graft.Graft.gini(
        Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).as("cents")),
        value = col("cents"), tie = col("o_custkey"))
      .select(col("n").as("n_customers"), round(col("gini"), 6).as("gini"))
      .orderBy("n_customers")

  /** Winsorized mean: per-priority order totals clamped at the
    * group's exact interpolated [p05, p95] before averaging, plus the
    * clamp counts — [[graft.Graft.winsorizedMean]] applied to orders,
    * so the oracle verifies the public API. ONE fact shuffle (the
    * percentile window shares the aggregate's partitioning —
    * plan-pinned below); Spark `percentile` ≡ DuckDB `quantile_cont`
    * (the q_percentile parity), mean rounded per rule F, counts
    * BIGINT per rule I. */
  def q_winsorize(s: SparkSession, d: String): DataFrame =
    graft.Graft.winsorizedMean(Tables.orders(s, d),
        Seq("o_orderpriority"), col("o_totalprice"))
      .select(col("o_orderpriority"), round(col("wins_mean"), 2).as("wins_mean"),
              col("n_lo"), col("n_hi"))
      .orderBy("o_orderpriority")

  /** PIVOT: order counts per (year × priority), priorities as columns.
    * Explicit value list keeps the output schema static (the only
    * scale-safe pivot — inferring pivot values is a driver-side
    * distinct at 100 TB). */
  def q_pivot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      .groupBy("o_year")
      .pivot("o_orderpriority",
             Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .select(col("o_year"),
              coalesce(col("1-URGENT"), lit(0L)).as("n_urgent"),
              coalesce(col("2-HIGH"), lit(0L)).as("n_high"),
              coalesce(col("3-MEDIUM"), lit(0L)).as("n_medium"),
              coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("n_notspec"),
              coalesce(col("5-LOW"), lit(0L)).as("n_low"))
      .coalesce(1).orderBy("o_year")

  /** UNPIVOT / melt (added round 8): per-returnflag sums of three
    * lineitem measures, melted wide→long via Spark's native
    * `Dataset.unpivot` ≡ DuckDB `UNPIVOT` — (flag, measure, total).
    * Order of operations is the scale decision: aggregate FIRST, melt
    * the |flags|×3 result — metadata-scale. Melting the fact table
    * first would triple the rows carried into the shuffle for the
    * same answer. Measures rounded per rule F before the melt so the
    * shared `total` column compares exactly. */
  def q_unpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("quantity"),
           round(sum("l_extendedprice"), 2).as("extendedprice"),
           round(sum("l_discount"), 2).as("discount"))
      .unpivot(Array(col("l_returnflag")),
               Array(col("quantity"), col("extendedprice"), col("discount")),
               "measure", "total")
      .coalesce(1).orderBy("l_returnflag", "measure")

  /** Fixed-width histogram (added round 8): order totals binned at
    * $25k width — count + min/max per bin. The profiling aggregation
    * behind every numeric-column dashboard; output is O(bins) rows so
    * the partial+final combine collapses everything map-side. Integer
    * bin ids via floor of a double ratio (both engines compute the
    * same IEEE division, and bin boundaries at exact multiples of 25k
    * don't occur in this price data). */
  def q_histogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / 25000).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_orders"),
           round(min("o_totalprice"), 2).as("min_price"),
           round(max("o_totalprice"), 2).as("max_price"))
      .coalesce(1).orderBy("bin")

  /** Equi-depth (equal-frequency) histogram (added round 8): order
    * totals cut into 8 buckets at the exact interpolated octile
    * boundaries — count + min/max per bucket, q_histogram's
    * equal-frequency sibling and the optimizer-statistics shape
    * (equi-depth is what engines keep for selectivity). Bucket id =
    * 1 + #boundaries strictly below the value, so values exactly at a
    * boundary fall left — same comparison on both engines over
    * boundary doubles verified BIT-IDENTICAL between Spark
    * `percentile` and DuckDB `quantile_cont` at all three sfs. The
    * 7-boundary array is a 1-row broadcast scalar; bucketing is a
    * row-local HOF count and the final rollup collapses map-side to
    * O(buckets) rows. At 100 TB the exact `percentile` (an
    * ObjectHashAggregate that buffers values) swaps for
    * `approx_percentile` with no plan-shape change — [[pctl]] makes
    * that swap a session toggle (`graft.percentile.approx`), tested
    * in ApproxPathSpec; exact stays the default because the oracle
    * gate demands cross-engine equality. */
  def q_equidepth(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_totalprice").as("v"))
    val bounds = o.agg(
      pctl(s, col("v"), lit((1 to 7).map(_ / 8.0).toArray)).as("bs"))
    o.crossJoin(broadcast(bounds))
      .select(col("v"),
              (size(filter(col("bs"), b => col("v") > b)) + 1).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
           round(min("v"), 2).as("min_price"),
           round(max("v"), 2).as("max_price"))
      .coalesce(1).orderBy("bucket")
  }

  /** Portable table fingerprints (added round 8): an
    * order/partitioning-independent checksum row per table — the
    * data-integrity half of ingest validation (q_profile is the
    * statistics half). This query IS [[graft.Graft.tableChecksum]]
    * over four tables, so the oracle proves the signature is
    * ENGINE-PORTABLE: DuckDB recomputes the identical polynomial
    * row-hash (plain non-negative BIGINT arithmetic, no JVM hashing)
    * and the identical XOR/sum folds. Doubles enter as floor-cents so
    * the float→int convention is explicit in the query, not the
    * engine. Each table costs a pure map + one partial+final
    * aggregate — no shuffle beyond the 1-row combines. */
  def q_checksum(s: SparkSession, d: String): DataFrame = {
    def one(name: String, df: DataFrame, cols: Seq[org.apache.spark.sql.Column]) =
      graft.Graft.tableChecksum(df, cols)
        .select(lit(name).as("tbl"), col("n_rows"), col("xor_sig"), col("sum_sig"))
    one("customer", Tables.customer(s, d),
        Seq(col("c_custkey"), col("c_nationkey"), floor(col("c_acctbal") * 100)))
      .union(one("lineitem", Tables.lineitem(s, d),
        Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_linenumber"), floor(col("l_extendedprice") * 100))))
      .union(one("orders", Tables.orders(s, d),
        Seq(col("o_orderkey"), col("o_custkey"), floor(col("o_totalprice") * 100))))
      .union(one("part", Tables.part(s, d), Seq(col("p_partkey"), col("p_size"))))
      .orderBy("tbl")
  }

  /** Single-scan column profile (added round 8): per orders column,
    * (n_rows, n_null, n_distinct) — the ingest data-quality check.
    * This query IS [[graft.Graft.profile]] over all six orders
    * columns, so the oracle verifies the public API. All measures
    * fold in ONE aggregate over ONE scan (the exact multi-distinct
    * plans as Expand with map-side partials); the melt runs on the
    * one-row result. All-integer output — cross-engine safe for the
    * double and timestamp columns too. */
  def q_profile(s: SparkSession, d: String): DataFrame =
    graft.Graft.profile(Tables.orders(s, d),
        Seq("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority",
            "o_orderstatus", "o_totalprice"))
      .orderBy("column")

  /** Correlated scalar subquery (added round 8): orders priced above
    * their own customer's average order value — the OLAP staple
    * `WHERE x > (SELECT AVG(...) correlated)`. Catalyst decorrelates
    * the subquery form into aggregate-join-back, which scans orders
    * TWICE; here it is the single-scan sibling — a full-frame window
    * average PARTITIONED by customer, residual filter, then a groupBy
    * on the same key, so the window's exchange is the only shuffle
    * (the aggregation reuses its partitioning) and orders is read
    * once. The per-partition window state is one customer's orders —
    * the bounded-per-entity assumption. Contrast q_anomaly: with few
    * fat groups the broadcast-stats join is right because it never
    * shuffles the fact side; with many small groups (customers) the
    * partitioned window is. */
  def q_above_avg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    Tables.orders(s, d)
      .repartitionByRange(col("o_custkey"))
      .withColumn("avg_price", avg("o_totalprice").over(w))
      .filter(col("o_totalprice") > col("avg_price"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_above"),
           round(max("o_totalprice"), 2).as("max_price"))
      .orderBy("o_custkey")
  }

  // ---- §2.5 sorts / top-k -------------------------------------------

  /** Global top-k by aggregate → TakeOrderedAndProject (the in-mapper
    * heap, distributed). Rank on the ROUNDED revenue with a unique
    * tiebreak so both engines order identically (rule F/O). */
  def q_topk_global(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(10)

  /** Multi-column mixed-direction sort (range-partitioned at scale). */
  def q_sort_multicol(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-06-01").cast("timestamp_ntz") &&
              col("l_shipdate") <  lit("1996-07-01").cast("timestamp_ntz"))
      .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
      .orderBy(col("l_returnflag").asc, col("l_extendedprice").desc,
               col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(200)

  // ---- §2.6 window functions ----------------------------------------

  /** Secondary-sort reconstruction: top-3 orders per customer. */
  def q_window_rank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .repartitionByRange(col("o_custkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
              row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** Rank-family completion (added round 9): rank / dense_rank /
    * row_number side by side per customer over the order YEAR (a
    * deliberately coarse key, so ties are guaranteed and the three
    * functions genuinely diverge: rank gaps after ties, dense_rank
    * does not). rank/dense_rank order by the tied key alone (their
    * tie semantics ARE the point and are well-defined); row_number
    * needs a TOTAL order to be deterministic, so its window adds the
    * orderkey tiebreak — same discipline as every window query here
    * (§7.4 rule O). One shuffle: all three windows share the
    * partitioning, and the year sort prefix is shared too. */
  def q_rank_dense(s: SparkSession, d: String): DataFrame = {
    val tied = Window.partitionBy("o_custkey").orderBy(col("yr").desc)
    val total = Window.partitionBy("o_custkey").orderBy(col("yr").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .repartitionByRange(col("o_custkey"))
      .select(col("o_custkey"), col("o_orderkey"), year(col("o_orderdate")).as("yr"))
      .select(col("o_custkey"), col("o_orderkey"), col("yr"),
              rank().over(tied).as("rk"),
              dense_rank().over(tied).as("drk"),
              row_number().over(total).as("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** Cumulative frame: running sum of totalprice per customer. */
  def q_window_running(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .repartitionByRange(col("o_custkey"))
      .select(col("o_custkey"), col("o_orderkey"),
              round(sum("o_totalprice").over(w), 2).as("run_sum"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Analytic offset: µs gap between consecutive events per user
    * (epoch-µs per rule T; -1 sentinel for each user's first event). */
  def q_window_lag(s: SparkSession, d: String): DataFrame = {
    val us = Tables.tsUs
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .repartitionByRange(col("user_id"))
      .select(col("user_id"), col("event_id"), us.as("us"))
      .select(col("user_id"), col("event_id"),
              coalesce(col("us") - lag("us", 1).over(w), lit(-1L)).as("gap_us"))
      .orderBy("user_id", "event_id")
  }

  /** RANGE frame over time: same-user events in the preceding 10 min. */
  def q_window_range(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-600000000L, 0L)
    Tables.events(s, d)
      .repartitionByRange(col("user_id"))
      .select(col("user_id"), col("event_id"), Tables.tsUs.as("us"))
      .select(col("user_id"), col("event_id"),
              count(lit(1)).over(w).as("n_10min"))
      .orderBy("user_id", "event_id")
  }

  /** Boundary-value window functions (added round 8): per user's full
    * ordered event history — first, last and second event type, one
    * row per user. The full-frame trio (first_value / last_value /
    * nth_value over UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING) that
    * session-summary queries need; users with one event get '' for the
    * second. PARTITIONED window (one user's history per task), total
    * order via the (us, event_id) tiebreak. */
  def q_first_last(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .repartitionByRange(col("user_id"))
      .select(col("user_id"), col("event_id"), col("event_type"), Tables.tsUs.as("us"))
      .select(col("user_id"),
              first("event_type").over(wf).as("first_type"),
              last("event_type").over(wf).as("last_type"),
              nth_value(col("event_type"), 2).over(wf).as("second_type"),
              row_number().over(w).as("__rn"))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("first_type"), col("last_type"),
              coalesce(col("second_type"), lit("")).as("second_type"))
      .orderBy("user_id")
  }

  /** Distribution window functions: ntile / percent_rank / cume_dist
    * over customers by account balance (unique (acctbal, custkey)
    * order key → deterministic everywhere). The global rank is the
    * [[graft.operators.RangeScan]] prefix count over 16 balance
    * buckets plus a per-bucket row_number, n its total; the three
    * functions are pure arithmetic in (rank, n). */
  def q_window_ntile(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select("c_custkey", "c_acctbal")
    val wLocal = Window.partitionBy("__bucket")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val n = col("n_total")
    val rk = col("rk")
    // ntile(4): q = n div 4, the first n%4 tiles take q+1 rows
    val tileQ = expr("n_total div 4")
    val rem = n % 4
    val bigSpan = (tileQ + lit(1)) * rem
    val quartile = when(rk <= bigSpan, ceil(rk / (tileQ + 1)))
      .otherwise(rem + ceil((rk - bigSpan) / tileQ))
    graft.operators.RangeScan(cust, Nil, col("c_acctbal"), 16, descending = true,
                              count(lit(1)), lit(0L))(_ + _)
      .select(col("c_custkey"), col("__total").as("n_total"),
              (col("__prefix") + row_number().over(wLocal)).as("rk"))
      .select(col("c_custkey"),
              quartile.cast("int").as("quartile"),
              round(when(n === 1, lit(0.0))
                      .otherwise((rk - 1).cast("double") / (n - 1)), 4).as("pct_rank"),
              round(rk.cast("double") / n, 4).as("cume"))
      .orderBy("c_custkey")
  }

  // ---- §2.7 set operations ------------------------------------------

  private def buildingCust(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
  private def urgentCust(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))

  /** UNION (distinct union of the two key sets). */
  def q_union(s: SparkSession, d: String): DataFrame =
    buildingCust(s, d).union(urgentCust(s, d)).distinct().orderBy("c_custkey")

  /** INTERSECT. */
  def q_intersect(s: SparkSession, d: String): DataFrame =
    buildingCust(s, d).intersect(urgentCust(s, d)).orderBy("c_custkey")

  /** EXCEPT. */
  def q_except(s: SparkSession, d: String): DataFrame =
    buildingCust(s, d).except(urgentCust(s, d)).orderBy("c_custkey")

  // ---- §2.8 scalar functions ----------------------------------------

  /** upper/lower/substring/concat/length/LIKE over customer names. */
  def q_string_funcs(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_name").like("Customer#00000009%"))
      .select(col("c_custkey"),
              substring(col("c_name"), 10, 9).as("id_suffix"),
              length(col("c_name")).as("name_len"),
              concat(lower(col("c_mktsegment")), lit("#"),
                     substring(col("c_name"), 10, 9)).as("tag"),
              upper(col("c_mktsegment")).as("seg_upper"))
      .orderBy("c_custkey")

  /** Regex functions: extract / replace / match over customer names.
    * Patterns stay in the Java∩RE2 common subset (char classes,
    * quantifiers, anchors, one group) so Spark's java.util.regex and
    * DuckDB's RE2 agree; DuckDB's regexp_replace needs the 'g' flag to
    * match Spark's replace-all default. try_cast on BOTH sides: a
    * no-match extract yields '' and Spark-4 ANSI CAST and DuckDB CAST
    * both throw on it — try_cast makes both engines null-and-skip. */
  def q_regex_funcs(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
           sum(when(col("c_name").rlike("9[0-9]{2}$"), 1).otherwise(0)).as("n_end9"),
           sum(regexp_extract(col("c_name"), "Customer#([0-9]+)", 1)
                 .try_cast("long")).as("sum_ids"),
           min(regexp_replace(lower(col("c_mktsegment")), "[aeiou]", "_")).as("vowelless"))
      .coalesce(1).orderBy("c_mktsegment")

  /** year/quarter/date arithmetic; timestamps emitted as DATE (rule T). */
  def q_date_funcs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("o_year"),
              quarter(col("o_orderdate")).as("o_quarter"),
              col("o_orderdate").cast("date").as("o_date"))
      .groupBy("o_year", "o_quarter")
      .agg(count(lit(1)).as("n_orders"),
           min("o_date").as("min_date"),
           max("o_date").as("max_date"),
           datediff(max("o_date"), min("o_date")).as("span_days"))
      .coalesce(1).orderBy("o_year", "o_quarter")

  /** sqrt/ln/pow/mod/round over part pricing. */
  def q_math_funcs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy("p_brand")
      .agg(round(avg(sqrt(col("p_retailprice"))), 4).as("avg_sqrt"),
           round(avg(log(col("p_retailprice"))), 4).as("avg_ln"),
           sum(col("p_size") % 7).as("sum_mod"),
           round(pow(max(col("p_size")).cast("double"), 2.0), 1).as("max_pow_sz"))
      .coalesce(1).orderBy("p_brand")

  /** JSON path extraction from the events.props string column. */
  def q_json_extract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
              get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           round(avg("k"), 3).as("avg_k"),
           max("k").as("max_k"))
      .coalesce(1).orderBy("event_type")

  /** Array build/size/distinct/sort/contains/slice/join over tokens. */
  def q_array_funcs(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(s, d)
      .select(col("doc_id"),
              size(toks).as("n_tokens"),
              size(array_distinct(toks)).as("n_distinct"),
              array_contains(toks, "spark").as("has_spark"),
              array_join(slice(array_sort(array_distinct(toks)), 1, 3), ",").as("first3"))
      .orderBy("doc_id")
  }
}
