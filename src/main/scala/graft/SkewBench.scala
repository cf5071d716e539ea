package graft

import org.apache.spark.sql.functions._

/** Skew-bench evidence harness: measures the hot-bucket guard of the
  * near-dup candidate joins on a DELIBERATELY skewed corpus — the
  * shape the sf* testdata never exhibits but 100 TB of web text will
  * (a stop-gram shared by most documents; boilerplate that collapses
  * most LSH band buckets onto one key; one dominant language).
  *
  * Two synthetic corpora, written once to parquet and read back so
  * every timed run starts from a scan like the declared queries:
  *  - stop-gram corpus: `hotFrac` of `nDocs` docs share ONE leading
  *    3-gram and are otherwise unique, 90% share one lang — the
  *    inverted-index worst case (one gram bucket holds hotFrac·nDocs
  *    docs; a plain self-join computes its ~(hot²/2) candidate pairs
  *    in ONE task).
  *  - boilerplate corpus: half the docs are a 20-token template plus
  *    one unique token — near-identical SETS, so MinHash/SimHash band
  *    buckets all collapse onto a handful of hot keys.
  *
  * For each near-dup family it times the GUARDED default
  * (maxBucket = 1024, hot buckets block-decomposed by
  * [[operators.SkewJoin.blockedSelfPairs]]) against the effectively
  * UNGUARDED plan (maxBucket = 2^29: every bucket is one block — the
  * pre-guard plan shape), plus [[Graft.stratifiedSample]] on the 90%
  * lang stratum (bounded-TopK cut; no unguarded variant exists to
  * compare). Prints one JSON line of median-of-3 seconds; the
  * recorded numbers live in BASELINE.md ("Skew bench"). */
object SkewBench {

  private val Unguarded = 1 << 29

  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus
    val dir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "/tmp/graft_skew")
    // 256 shuffle partitions, NOT the Bench default of `cpus`: this
    // harness models a cluster, where partition-uniform stages (the
    // pair agg — 200M rows hash-spread by pair key) shrink with the
    // partition count while a hot-BUCKET task does not. At 32
    // partitions the uniform agg is 6M rows/task and masks the hot
    // task; at 256 the uniform stages are bounded and what remains as
    // max-task is exactly the skew the guard exists to cut.
    val spark = Harness.session(cpus, Map("spark.sql.shuffle.partitions" -> "256"))
    import spark.implicits._

    // stop-gram corpus: 24k docs, 20000 share the gram "h1 h2 h3"
    // (~200M candidate pairs in ONE task unguarded — the serialized
    // quadratic shape), 13 unique tail tokens each; 90% lang = "en"
    val uniqueTail = (p: String) => concat_ws(" ",
      transform(sequence(lit(0), lit(12)),
        j => concat(lit(p), $"id", lit("_"), j)))
    spark.range(24000).select(
        $"id".as("doc_id"),
        when($"id" % 6 < 5, concat(lit("h1 h2 h3 "), uniqueTail("u")))
          .otherwise(uniqueTail("v")).as("text"),
        when($"id" % 10 === 0, lit("zh")).otherwise(lit("en")).as("lang"))
      .write.mode("overwrite").parquet(s"$dir/stopgram.parquet")
    val stopgram = spark.read.parquet(s"$dir/stopgram.parquet")

    // boilerplate corpus: 4k docs, 2000 = template + 1 unique token
    val template = (1 to 20).map(i => s"t$i").mkString(" ")
    spark.range(4000).select(
        $"id".as("doc_id"),
        when($"id" % 2 === 0, concat(lit(template + " w"), $"id"))
          .otherwise(uniqueTail("b")).as("text"))
      .write.mode("overwrite").parquet(s"$dir/boilerplate.parquet")
    val boiler = spark.read.parquet(s"$dir/boilerplate.parquet")

    def ngram(mb: Int) = Graft
      .nearDupPairsNgram(stopgram, $"doc_id", $"text", 800, 3, maxBucket = mb).count()
    // round 14: the exact AllPairs/PPJoin prefix+positional path that
    // now builds the shared ngram_pairs table. On THIS corpus the
    // prefix filter dissolves the skew by construction: each doc
    // indexes only its ~rarest fifth of grams, and the hot stop-gram
    // (df = 20k) is never any doc's rarest — it leaves the candidate
    // universe before the self-join, so there is no hot bucket for
    // the guard to decompose. Output-identical to the inverted-index
    // path (prefix-filter theorem; the require below pins it).
    def jaccPrefix(mb: Int) = Graft
      .jaccardJoinPrefix(stopgram, $"doc_id", $"text", 800, 3, maxBucket = mb).count()
    def ngramCapped() = Graft
      .nearDupPairsNgram(stopgram, $"doc_id", $"text", 800, 3,
        maxGramDocFreq = 4096).count()
    def minhash(mb: Int) = Graft
      .nearDupPairsMinhash(boiler, $"doc_id", $"text", 900, maxBucket = mb).count()
    def minhashCapped() = Graft
      .nearDupPairsMinhash(boiler, $"doc_id", $"text", 900,
        maxBandDocFreq = 256).count()
    def simhash(mb: Int) = Graft
      .nearDupPairsSimhash(boiler, $"doc_id", $"text", 3, maxBucket = mb).count()
    def simhashCapped() = Graft
      .nearDupPairsSimhash(boiler, $"doc_id", $"text", 3,
        maxBandDocFreq = 256).count()

    // vector-skew corpus: 4k unit vectors, half tiny perturbations of
    // ONE base vector — near-identical SRP signatures, so the batch
    // ANN's (band, key) buckets collapse onto hot keys. Probes = the
    // full corpus (batch self-kNN, the "every doc's neighbors" shape);
    // broadcast is disabled around these variants to model the
    // corpus-scale probe batch that exceeds the broadcast threshold.
    val dim = 16
    val noise = (p: String) => transform(sequence(lit(0), lit(dim - 1)),
      j => when(j === 0, lit(1000.0))
        .otherwise(pmod(xxhash64(concat(lit(p), $"id", lit("_"), j)), lit(7)).cast("double") - 3.0))
    spark.range(4000).select(
        $"id".as("vec_id"),
        when($"id" % 2 === 0, noise("hotv")) // ~unit e0 + small tail
          .otherwise(transform(sequence(lit(0), lit(dim - 1)),
            j => pmod(xxhash64(concat(lit("cold"), $"id", lit("_"), j)), lit(200)).cast("double") - 100.0))
          .as("v"))
      .write.mode("overwrite").parquet(s"$dir/vecskew.parquet")
    val vecs = spark.read.parquet(s"$dir/vecskew.parquet")
    def srpBatch(mb: Int): Long = {
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      try Graft.srpSearchAll(vecs, $"vec_id", $"v",
          vecs.select($"vec_id".as("pid"), $"v".as("pv")), $"pid", $"pv",
          topk = 5, bits = 16, radius = 2, maxBucket = mb).count()
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }

    // round 9: containment on the boilerplate corpus — the guard's
    // worst case BY CONSTRUCTION, because containmentPairsNgram has
    // no size-ratio prune (its positives are exactly the asymmetric
    // pairs the Jaccard prune discards): ~18 shared template grams ×
    // 2k-doc buckets, every candidate reaches the pair aggregate
    def contain(mb: Int) = Graft
      .containmentPairsNgram(boiler, $"doc_id", $"text", 800, 3,
        maxBucket = mb).count()
    // the LOSSY remedy for the dense-cluster regime: template grams
    // (df = 2k) leave the universe at cap 64, deleting the cluster's
    // quadratic output — the CCNet-style trade, semantics change
    def containCapped() = Graft
      .containmentPairsNgram(boiler, $"doc_id", $"text", 800, 3,
        maxGramDocFreq = 64).count()
    // round 9: span dedup on the same corpus — one span text shared
    // by all 2k template docs (the hot-span case). NO guarded/
    // unguarded axis exists: the operator has no quadratic stage at
    // any skew (map-side-combined span groupBy + broadcast mark-back),
    // so the measurement's claim is "max task bounded by construction"
    def spanStats(stride: Int) = Graft
      .duplicatedSpanStats(boiler, $"doc_id", $"text", 16, stride).count()
    // round 10: the incremental and decontamination faces on the same
    // hot-span corpus — both bounded by construction: the standing
    // index is DISTINCT span hashes, so a batch span matches at most
    // ONE index row (probe-join output ≤ batch spans at ANY skew);
    // and the eval span set broadcasts, so corpus spans stream
    // map-side (hits ≤ corpus span instances, no shuffle of them on
    // a hot key). Splits keep both sides template-heavy: corpus =
    // ids ≡ 0 (mod 4), batch = ids ≡ 2 (mod 4) — every batch span
    // hits the index's ONE hot span hash.
    def spanAgainst() = Graft.duplicatedSpansAgainst(
        boiler.filter($"doc_id" % 4 === 0), $"doc_id", $"text",
        boiler.filter($"doc_id" % 4 === 2), $"doc_id", $"text", 16).count()
    def contamSpan() = Graft.spanContamination(
        boiler, $"doc_id", $"text",
        $"doc_id" < 40 && $"doc_id" % 2 === 0, 16).count()

    // warm the session once so run 1 isn't charged for codegen warmup
    minhash(Unguarded)

    val all = Seq[(String, () => Long)](
      "ngram_guarded" -> (() => ngram(1024)),
      "ngram_unguarded" -> (() => ngram(Unguarded)),
      // the LOSSY alternative: df-capped grams (semantics change — the
      // stop gram leaves the universe), measured for the same corpus
      "ngram_df_capped" -> (() => ngramCapped()),
      "jaccp_guarded" -> (() => jaccPrefix(1024)),
      "jaccp_unguarded" -> (() => jaccPrefix(Unguarded)),
      "minhash_guarded" -> (() => minhash(1024)),
      "minhash_unguarded" -> (() => minhash(Unguarded)),
      // the LOSSY dense-band cap (candidate recall changes, survivor
      // scores don't), measured against the same boilerplate corpus
      "minhash_band_capped" -> (() => minhashCapped()),
      "simhash_guarded" -> (() => simhash(1024)),
      "simhash_unguarded" -> (() => simhash(Unguarded)),
      "simhash_band_capped" -> (() => simhashCapped()),
      "stratified_hot_lang" -> (() =>
        Graft.stratifiedSample(stopgram, $"lang", $"doc_id", 100, 7L).count()),
      // batch ANN with a corpus-scale probe batch (broadcast disabled):
      // guarded = blockedBipartiteJoin, unguarded = plain shuffled join
      // maxBucket 256, not 1024: the hot band bucket holds 2k corpus
      // rows, and the guard's signal is the block count (2k/256 = 8
      // blocks vs 2 at 1024) — the bound is on large-side task input
      "srp_batch_guarded" -> (() => srpBatch(256)),
      "srp_batch_unguarded" -> (() => srpBatch(Unguarded)),
      "contain_guarded" -> (() => contain(1024)),
      "contain_unguarded" -> (() => contain(Unguarded)),
      "contain_df_capped" -> (() => containCapped()),
      "span_hot_disjoint" -> (() => spanStats(0)),
      "span_hot_sliding" -> (() => spanStats(1)),
      "span_against_hot" -> (() => spanAgainst()),
      "span_contam_hot" -> (() => contamSpan()))
    // optional variant filter: `runMain graft.SkewBench ngram` times only
    // labels containing "ngram" (for quick one-variant measurements)
    val picked = if (args.isEmpty) all
                 else all.filter { case (l, _) => args.exists(l.contains) }
    val results = Harness.median3(spark, picked)

    // guarded and unguarded plans must agree before timings mean anything
    val byLabel = results.toMap
    Seq("ngram", "jaccp", "minhash", "simhash", "srp_batch", "contain").foreach { fam =>
      (byLabel.get(s"${fam}_guarded"), byLabel.get(s"${fam}_unguarded")) match {
        case (Some(g), Some(u)) =>
          require(g.rows == u.rows, s"$fam pair counts diverged")
        case _ => ()
      }
    }
    // the prefix path is EXACT: its pair set must equal the
    // inverted-index path's on the same corpus and threshold
    (byLabel.get("ngram_guarded"), byLabel.get("jaccp_guarded")) match {
      case (Some(g), Some(p)) =>
        require(g.rows == p.rows,
          s"prefix-filter pair count ${p.rows} != inverted-index ${g.rows}")
      case _ => ()
    }

    val js = results.map { case (k, r) =>
      s""""$k":{"sec":${math.round(r.sec * 1000) / 1000.0},""" +
        s""""max_task_sec":${math.round(r.maxTaskSec * 1000) / 1000.0},"rows":${r.rows}}"""
    }.mkString("{", ",", "}")
    println(s"""{"bench":"skew","cpus":$cpus,"results":$js}""")
    spark.stop()
  }
}
