package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salting for skewed equi-joins (SURVEY §4.1: the manual-Partitioner
  * escape hatch, Spark-native form). AQE's skew-join handles most
  * cases at runtime; explicit salting remains the tool when one side's
  * key distribution is pathological (e.g. a null-heavy or celebrity
  * key) and the skewed side must be split BEFORE the shuffle.
  *
  * Shape: the skewed (large) side gets a uniform random salt in
  * [0, salts); the small side is replicated `salts` times; the join
  * key becomes (key, salt). Row-level results are identical to the
  * unsalted join — the salt only splinters each hot key's hash bucket
  * into `salts` shuffle partitions.
  */
object SkewJoin {

  /** Inner equi-join `large ⋈ small ON largeKey = smallKey`, salted.
    * `salts` ≈ number of tasks a single hot key should spread over. */
  def saltedJoin(large: DataFrame, small: DataFrame,
                 largeKey: Column, smallKey: Column, salts: Int): DataFrame = {
    val saltedLarge = large.withColumn("__salt_l",
      (rand(seed = 42) * salts).cast("int"))
    val saltedSmall = small.withColumn("__salt_r",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLarge.join(saltedSmall,
        largeKey === smallKey && col("__salt_l") === col("__salt_r"))
      .drop("__salt_l", "__salt_r")
  }

  /** Skew-guarded BIPARTITE inner equi-join `large ⋈ small ON
    * bucketCols` — [[blockedSelfPairs]]' two-sided sibling, the
    * batch-ANN candidate-join kernel for the regime where the small
    * side is itself too big to broadcast (a corpus-scale probe batch):
    * the planner then shuffles BOTH sides on the bucket key and one
    * hot large-side bucket serializes one task. Here any large-side
    * bucket over `maxBucket` rows is split into nblk =
    * ceil(size / maxBucket) deterministic id-hash blocks and the
    * small side's matching rows are REPLICATED across the blocks, so
    * each (large row, small row) key match meets in exactly ONE
    * block — the join result is exactly the plain join's, while
    * per-task large-side input stays ≈ maxBucket rows at any bucket
    * size. Small-side replication cost is nblk× on hot keys only.
    *
    * Like [[blockedSelfPairs]], the block-pair exchange repartitions
    * on the join keys with an EXPLICIT partition count so AQE's
    * input-byte-based coalescing cannot re-fuse the decomposed
    * blocks. Non-bucket column names must be disjoint across the two
    * sides; `largeIdCol` (any unique-ish large-side column) drives
    * deterministic block assignment. The working names __cnt, __nblk,
    * __blk must be absent from both sides. */
  def blockedBipartiteJoin(large: DataFrame, largeIdCol: String,
                           small: DataFrame, bucketCols: Seq[String],
                           maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val lPayload = large.columns.filterNot(bucketCols.contains).toSeq
    val sPayload = small.columns.filterNot(bucketCols.contains).toSeq
    require(lPayload.contains(largeIdCol),
      s"largeIdCol $largeIdCol must be a non-bucket column of ${large.columns.mkString(",")}")
    require(bucketCols.forall(small.columns.contains),
      s"small side must carry the bucket columns ${bucketCols.mkString(",")}")
    require(lPayload.intersect(sPayload).isEmpty,
      s"non-bucket columns must be disjoint, both sides have ${lPayload.intersect(sPayload).mkString(",")}")
    val working = Seq("__cnt", "__nblk", "__blk")
    require(working.forall(w => !large.columns.contains(w) && !small.columns.contains(w)),
      s"column names ${working.mkString(",")} are reserved")
    val keys = bucketCols.map(col)
    val hot = large.groupBy(keys: _*).agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > maxBucket)
      .select(keys :+
        ceil(col("__cnt").cast("double") / maxBucket).cast("int").as("__nblk"): _*)
    val lb = large.join(broadcast(hot), bucketCols, "left")
      .withColumn("__nblk", coalesce(col("__nblk"), lit(1)))
      .withColumn("__blk", pmod(xxhash64(col(largeIdCol)), col("__nblk")).cast("int"))
      .drop("__nblk")
    val sb = small.join(broadcast(hot), bucketCols, "left")
      .withColumn("__nblk", coalesce(col("__nblk"), lit(1)))
      .withColumn("__blk", explode(sequence(lit(0), col("__nblk") - 1)))
      .drop("__nblk")
    val joinKeys = bucketCols :+ "__blk"
    val nPart = large.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    lb.repartition(nPart, joinKeys.map(col): _*)
      .join(sb.repartition(nPart, joinKeys.map(col): _*), joinKeys)
      .drop("__blk")
  }

  /** Skew-guarded SELF-join on `bucketCols` — the candidate-pair
    * kernel of the inverted-index / LSH near-dup joins, with hot
    * buckets BLOCK-DECOMPOSED so no single task ever sees a whole hot
    * bucket. A plain self-join's work is ∝ Σ bucket² and one stop-gram
    * / dense band at 100× data serializes one quadratic task; here any
    * bucket larger than `maxBucket` is split into
    * nblk = ceil(size / maxBucket) hash-blocks and the bucket's pair
    * set becomes the nblk·(nblk+1)/2 block-pair TRIANGLE — each block
    * pair is its own join key, so per-task input stays ≈ 2·maxBucket
    * rows at ANY bucket size while the pair set is EXACTLY preserved
    * (every unordered pair meets in exactly one block pair: its two
    * blocks, row-block ≤ col-block).
    *
    * Hot buckets are found by one map-side-combined count pass and
    * broadcast (only keys ABOVE the threshold ship — metadata-scale);
    * cold buckets keep nblk = 1 and pay only the broadcast lookup.
    * Block membership is a deterministic id-hash, so a row lands in
    * the same block on both sides and self-pairs cannot survive the
    * diagonal's strict-order filter.
    *
    * Input: any DataFrame whose non-bucket columns are the per-row
    * payload; `orderCol` (a payload column, unique per bucket) defines
    * pair order. Output: `bucketCols` + each payload column twice,
    * suffixed `_a`/`_b`, normalized so `orderCol_a < orderCol_b`; each
    * qualifying unordered pair appears EXACTLY once per bucket row
    * pair. Column names beginning `__` are reserved.
    *
    * `sizes` (round-12 verdict #1): optional precomputed per-bucket
    * row counts — schema exactly `bucketCols :+ <one numeric count
    * column>` — replacing the hot-bucket count pass with a read of an
    * already-materialized stats table (the write-the-df-table-once
    * warehouse shape: the full-index n-gram self faces of
    * [[GramPairs]] hand the shared gram-df table here, removing one full corpus-scale aggregate from the pair-graph
    * build). Counts drive DECOMPOSITION ONLY, never the pair set —
    * both join sides derive `__nblk` from the same broadcast row, so
    * an inaccurate count degrades task balance, not correctness
    * (under-count = an under-split hot bucket, over-count = harmless
    * extra near-empty blocks). Missing buckets mean "not hot". */
  def blockedSelfPairs(df: DataFrame, bucketCols: Seq[String],
                       orderCol: String, maxBucket: Int,
                       sizes: Option[DataFrame] = None): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val payload = df.columns.filterNot(bucketCols.contains).toSeq
    require(payload.contains(orderCol),
      s"orderCol $orderCol must be a non-bucket column of ${df.columns.mkString(",")}")
    require(df.columns.forall(!_.startsWith("__")),
      s"column names starting with __ are reserved, got ${df.columns.mkString(",")}")
    val keys = bucketCols.map(col)
    val counted = sizes match {
      case Some(sz) =>
        val extra = sz.columns.filterNot(bucketCols.contains).toSeq
        require(bucketCols.forall(sz.columns.contains) && extra.size == 1,
          s"sizes must have schema (${bucketCols.mkString(",")}, <count>), got ${sz.columns.mkString(",")}")
        sz.select(keys :+ col(extra.head).cast("long").as("__cnt"): _*)
      case None =>
        df.groupBy(keys: _*).agg(count(lit(1)).as("__cnt"))
    }
    // a HANDED sizes table may carry duplicate bucket keys (round 13:
    // the gram family keys on int64 fingerprints, and two colliding
    // grams project to the same key) — a duplicate key in `hot` would
    // DUPLICATE every matching row through the left join below and
    // corrupt the pair set, so the hot rows are re-aggregated after
    // the threshold filter (metadata-scale: only above-cap keys).
    // The inline-count path is a groupBy result, unique by construction.
    // DETECTION stays per-handed-row (review catch, stated limit): a
    // collision-FUSED bucket whose duplicate rows are each sub-cap
    // escapes (or, partially sub-cap, under-splits) the decomposition
    // — summing before the filter would catch it, but that re-imposes
    // the vocab-scale aggregate the handed table exists to delete,
    // for an event at ~2⁻⁶⁴ per gram pair; the sizes contract above
    // already declares counts ADVISORY (pair set exact regardless).
    val hotCounted = counted.filter(col("__cnt") > maxBucket)
    val hotUnique = sizes match {
      case Some(_) => hotCounted.groupBy(keys: _*).agg(sum("__cnt").as("__cnt"))
      case None    => hotCounted
    }
    val hot = hotUnique
      .select(keys :+
        ceil(col("__cnt").cast("double") / maxBucket).cast("int").as("__nblk"): _*)
    val blocked = df.join(broadcast(hot), bucketCols, "left")
      .withColumn("__nblk", coalesce(col("__nblk"), lit(1)))
      .withColumn("__blk", pmod(xxhash64(col(orderCol)), col("__nblk")).cast("int"))
    // triangle replication: a row in block b is the ROW side of block
    // pairs (b, b..nblk-1) and the COLUMN side of (0..b, b)
    val lhs = blocked.select(keys ++
      Seq(col("__blk").as("__bi"),
          explode(sequence(col("__blk"), col("__nblk") - 1)).as("__bj")) ++
      payload.map(c => col(c).as(c + "_a")): _*)
    val rhs = blocked.select(keys ++
      Seq(explode(sequence(lit(0), col("__blk"))).as("__bi"),
          col("__blk").as("__bj")) ++
      payload.map(c => col(c).as(c + "_b")): _*)
    val flip = col(orderCol + "_a") > col(orderCol + "_b")
    // EXPLICIT-COUNT repartition on the join keys, not the planner's
    // implicit exchange: AQE's partition coalescing sizes on INPUT
    // bytes, and a candidate join's input is tiny while its output is
    // quadratic in the bucket size — measured on the skew corpus, AQE
    // re-fused the decomposed block pairs into a handful of fat tasks
    // and undid the guard. REPARTITION_BY_NUM exchanges are exempt
    // from coalescing, and since the repartition keys equal the join
    // keys the join adds no further exchange.
    val joinKeys = bucketCols ++ Seq("__bi", "__bj")
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    lhs.repartition(nPart, joinKeys.map(col): _*)
      .join(rhs.repartition(nPart, joinKeys.map(col): _*), joinKeys)
      // diagonal blocks dedup by strict order; off-diagonal pairs are
      // already unique (a row's block is fixed) and get normalized below
      .filter(col("__bi") < col("__bj") ||
              col(orderCol + "_a") < col(orderCol + "_b"))
      .select(keys ++
        payload.map(c => when(flip, col(c + "_b")).otherwise(col(c + "_a")).as(c + "_a")) ++
        payload.map(c => when(flip, col(c + "_a")).otherwise(col(c + "_b")).as(c + "_b")): _*)
  }
}
