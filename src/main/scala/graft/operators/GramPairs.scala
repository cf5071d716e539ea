package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one pair pipeline of the word-n-gram near-dup family: Graft's
  * nearDupPairsNgram, nearDupBands, containmentPairsNgram and
  * jaccardJoinPrefix, and the incremental faces nearDupPairsNgramAgainst
  * and jaccardPrefixAgainst.
  *
  * A side is one row per (document, distinct gram): `doc_id`, `na` (the
  * document's distinct-gram count) and `gf` (the int64 gram
  * fingerprint), plus `pos` (the gram's 1-based rank in the document's
  * rarity order) in the prefix path. The faces differ only in the
  * candidate kernel:
  *  - a self face pairs one side with itself through the
  *    [[SkewJoin.blockedSelfPairs]] triangle, so doc_a < doc_b and
  *    each unordered pair is enumerated once per shared gram;
  *  - an `…Against` face pairs a corpus side (doc_a) with a batch side
  *    (doc_b) through [[SkewJoin.blockedBipartiteJoin]]. Its sides come
  *    from the caller's DataFrames, not from the self faces' shared
  *    tables, so an ingest can probe each new batch. Overlapping ids
  *    pair with themselves, so the sides should be disjoint.
  * Both kernels block-decompose a gram bucket above `maxBucket` rows,
  * which bounds per-task input and never changes the pair set.
  *
  * The count path ([[countPairs]]) counts each candidate pair's
  * collisions: the count is the overlap, because a side holds each
  * distinct gram of a document once.
  *
  * The prefix path ([[prefixPairs]]) reads sides sorted by one global
  * rarity order (document frequency, then fingerprint) that every
  * document agrees on, and rests on three invariants:
  *  - Prefix theorem (AllPairs; Bayardo et al., WWW'07). A pair with
  *    Jaccard ≥ t and overlap o has o·(1+t) ≥ t·(na+nb) ≥ t·na + t·o,
  *    so o ≥ ⌈t·na⌉. Only ⌈t·na⌉ − 1 grams of a lie after its prefix of
  *    na − ⌈t·na⌉ + 1 rarest grams, so the pair's first common gram
  *    lies in both prefixes: every qualifying pair collides. Both sides
  *    must therefore be slices of one rarity table; two tables ranked
  *    by their own frequencies break the theorem. Containment has no
  *    such prefix (its required overlap can be 1 against a tiny
  *    partner), so it indexes every gram.
  *  - Positional bound (PPJoin; Xiao et al., WWW'08). All common grams
  *    of a pair sit at ranks ≥ (i, j) of its first collision, so the
  *    overlap is at most min(na − i, nb − j) + 1. A collision whose
  *    bound fails the measure is dropped before the distinct; the first
  *    collision of every qualifying pair passes, so the filter is exact.
  *  - Each surviving pair is verified by `array_intersect` of the two
  *    sorted fingerprint arrays, so work is ∝ candidates, not corpus². */
private[graft] object GramPairs {

  /** A pair measure at threshold p permille, 0 < p ≤ 1000, over a
    * pair's set sizes `na` and `nb`, in integer arithmetic. */
  sealed trait Measure {
    def p: Int
    require(p > 0 && p <= 1000, s"thresholdPermille must be in (0, 1000], got $p")
    /** The threshold test for an overlap (or an upper bound on one). */
    def meets(overlap: Column): Column
    /** Drops collisions whose sizes alone rule the pair out. */
    def sizeOk(collisions: DataFrame): DataFrame
    /** The grams of a sorted array `gs` the prefix path indexes. */
    def prefix(gs: Column): Column
    /** The face's output columns from (doc_a, doc_b, na, nb, common). */
    def report(pairs: DataFrame): DataFrame
  }

  /** o/(na+nb−o) ≥ p/1000, i.e. o·(1000+p) ≥ p·(na+nb); reported as
    * (doc_a, doc_b, jaccard rounded to 3 places). */
  final case class Jaccard(p: Int) extends Measure {
    def meets(o: Column): Column = o * (1000 + p) >= (col("na") + col("nb")) * p
    // meets(min(na, nb)) spelled out: the overlap is at most min(na, nb)
    def sizeOk(collisions: DataFrame): DataFrame =
      collisions.filter(col("na") * 1000 >= col("nb") * p && col("nb") * 1000 >= col("na") * p)
    def prefix(gs: Column): Column =
      slice(gs, lit(1), (col("na") - expr(s"(na * $p + 999) div 1000") + 1).cast("int"))
    def report(pairs: DataFrame): DataFrame =
      pairs.select(col("doc_a"), col("doc_b"),
                   round(col("common") / (col("na") + col("nb") - col("common")), 3).as("jaccard"))
  }

  /** o/min(na, nb) ≥ p/1000, i.e. o·1000 ≥ p·min(na, nb). Every size
    * ratio and every gram stays: short-inside-long pairs are its
    * positives. Reported as (doc_a, doc_b, na, nb, common,
    * containment_permille = 1000·common div min(na, nb)). */
  final case class Containment(p: Int) extends Measure {
    def meets(o: Column): Column = o * 1000 >= least(col("na"), col("nb")) * p
    def sizeOk(collisions: DataFrame): DataFrame = collisions
    def prefix(gs: Column): Column = gs
    def report(pairs: DataFrame): DataFrame =
      pairs.select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("common"),
                   expr("common * 1000L div least(na, nb)").as("containment_permille"))
  }

  /** Pairs of side `a` with itself (`b` = None) or with side `b` whose
    * collision count meets `m`: (doc_a, doc_b, na, nb, common). `sizes`
    * is the self kernel's optional per-gram bucket-size table. */
  def countPairs(a: DataFrame, b: Option[DataFrame], m: Measure, maxBucket: Int,
                 sizes: Option[DataFrame] = None): DataFrame =
    m.sizeOk(collisions(a, b, maxBucket, sizes))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("common"))
      .filter(m.meets(col("common")))

  /** Pairs of rarity table `a` (doc_id, gs, na) with itself or with
    * table `b` whose verified overlap meets `m`: (doc_b, doc_a, na, nb,
    * ga, gb, common). `sizes` as in [[countPairs]]; it is only a valid
    * bucket-size table when the measure indexes every gram. */
  def prefixPairs(a: DataFrame, b: Option[DataFrame], m: Measure, maxBucket: Int,
                  sizes: Option[DataFrame] = None): DataFrame = {
    def indexed(sorted: DataFrame): DataFrame =
      sorted.withColumn("prefix", m.prefix(col("gs")))
        .select(col("doc_id"), col("na"), posexplode(col("prefix")).as(Seq("pos", "gf")))
        .select(col("doc_id"), col("na"), (col("pos") + 1).as("pos"), col("gf"))
    m.sizeOk(collisions(indexed(a), b.map(indexed), maxBucket, sizes))
      .filter(m.meets(least(col("na") - col("pos_a"), col("nb") - col("pos_b")) + 1))
      .select(col("doc_a"), col("na"), col("doc_b"), col("nb"))
      .distinct()
      .join(a.select(col("doc_id").as("doc_a"), col("gs").as("ga")), "doc_a")
      .join(b.getOrElse(a).select(col("doc_id").as("doc_b"), col("gs").as("gb")), "doc_b")
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .filter(m.meets(col("common")))
  }

  /** The candidate kernel: one row per gram two documents share,
    * (doc_a, na, [pos_a,] doc_b, nb, [pos_b]). */
  private def collisions(a: DataFrame, b: Option[DataFrame], maxBucket: Int,
                         sizes: Option[DataFrame]): DataFrame = {
    val pairs = b match {
      case None => SkewJoin.blockedSelfPairs(a, Seq("gf"), "doc_id", maxBucket, sizes)
      case Some(bs) =>
        def suffixed(side: DataFrame, s: String): DataFrame =
          side.select(side.columns.toSeq.map(c => if (c == "gf") col(c) else col(c).as(s"${c}_$s")): _*)
        SkewJoin.blockedBipartiteJoin(suffixed(a, "a"), "doc_id_a", suffixed(bs, "b"), Seq("gf"), maxBucket)
    }
    val positional = a.columns.contains("pos")
    def side(s: String, size: String): Seq[Column] =
      Seq(col(s"doc_id_$s").as(s"doc_$s"), col(s"na_$s").as(size)) ++
        Option.when(positional)(col(s"pos_$s"))
    pairs.select(side("a", "na") ++ side("b", "nb"): _*)
  }
}
