package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The user-facing operator API: the generic, reusable forms of the
  * operators the `SparkEntry.queries` demos exercise against the test
  * tables. Everything here takes the caller's own DataFrames/Columns;
  * nothing is bound to the test corpus. Each method is the exact logic
  * a declared query runs (and is tested for equivalence in GraftSpec),
  * so correctness transfers from the oracle-verified query set.
  */

/** A trained unigram-LM tokenizer model ([[Graft.unigramLmTrain]]):
  * `pieces` sorted (probability DESC, piece ASC), probabilities an
  * exact partition of 1 over the final vocabulary; `logLikelihoods`
  * the per-EM-round corpus log-likelihood trail (fixed-point units ×
  * word frequency — the monotonicity evidence, one entry per round). */
case class UnigramLmModel(pieces: Seq[(String, Double)], maxPieceLen: Int,
                          logLikelihoods: List[BigDecimal])

/** One training iteration's ledger row ([[Graft.logisticTrain]]):
  * mean log-loss plus the integer confusion counts at threshold 0.5
  * BEFORE that iteration's weight update was applied. */
case class LogisticIter(loss: Double, tp: Long, fp: Long, tn: Long, fn: Long)

/** A trained logistic-regression model ([[Graft.logisticTrain]]):
  * weights over STANDARDIZED features ((x − μ)/σ — `means`/`stds` from
  * the training stats pass), the per-iteration loss trail, and the
  * per-iteration confusion ledger. Apply with [[Graft.logisticPredict]]. */
case class LogisticModel(weights: Seq[Double], bias: Double,
                         means: Seq[Double], stds: Seq[Double],
                         losses: List[Double], trail: List[LogisticIter],
                         nRows: Long)

object Graft {

  /** Spread a narrow-parallelism scan across the session's cores
    * before a HEAVY row-local stage (codec encode/decode, multi-
    * permutation signature hashing, model featurization) — guide §2.5
    * input skew: a small single-file parquet table is ONE scan split
    * (one row group), so on local[32] the whole mapper pass serializes
    * onto one core while 31 idle. The round-robin repartition costs
    * one exchange of the projected input rows and buys cores× mapper
    * throughput — project BEFORE calling so only needed columns cross.
    *
    * SCALE-ADAPTIVE, not a constant (the optimization-round contract):
    * when the scan already carries at least `defaultParallelism`
    * partitions — any real warehouse table — this is the IDENTITY; no
    * exchange is added at 100 TB, where the same unconditional
    * repartition would be a full-corpus payload shuffle. The
    * getNumPartitions probe plans the query but runs no job. */
  def fanOutForCompute(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Left as-of join: append to `left` the nearest same-keyed
    * `rightTime` at-or-before (`direction = "backward"`, default) or
    * at-or-after (`"forward"`) `leftTime` — NULL if none, or if the
    * nearest match is further than `tolerance` (LongType times only).
    * Key/time columns may be ANY orderable atomic type. Executed by
    * the custom [[graft.plans.AsOfJoinExec]] operator — one exchange +
    * sort per side, single-pass O(1)-state merge. */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, leftTime: String,
               rightKey: String, rightTime: String,
               outCol: String = "asof_time",
               direction: String = "backward",
               tolerance: Option[Long] = None): DataFrame =
    plans.AsOfJoin.asofMulti(left, right, Seq(leftKey), leftTime, Seq(rightKey), rightTime,
                             outCol, direction, tolerance)

  /** Composite-key as-of join: like [[asofJoin]] but keyed on one OR
    * MORE columns per side ((user, device), (symbol, venue) …) — key
    * columns pair up positionally and may mix orderable types. */
  def asofJoinMulti(left: DataFrame, right: DataFrame,
                    leftKeys: Seq[String], leftTime: String,
                    rightKeys: Seq[String], rightTime: String,
                    outCol: String = "asof_time",
                    direction: String = "backward",
                    tolerance: Option[Long] = None): DataFrame =
    plans.AsOfJoin.asofMulti(left, right, leftKeys, leftTime, rightKeys, rightTime,
                             outCol, direction, tolerance)

  /** Skew-safe equi-join of a large skewed side against a small side
    * by replicating the small side across `salts` shards. */
  def saltedJoin(large: DataFrame, small: DataFrame,
                 largeKey: Column, smallKey: Column, salts: Int): DataFrame =
    operators.SkewJoin.saltedJoin(large, small, largeKey, smallKey, salts)

  /** Bloom-prefiltered LEFT SEMI join: `big` rows whose long `bigKey`
    * appears in `small`'s `smallKey` set. Semantically identical to a
    * plain left-semi join — the sketch only PRE-filters: a distributed
    * `treeAggregate` builds a bloom filter over the small side's keys
    * (two passes over the SMALL side: count to size the sketch, then
    * build), the codegen'd [[functions.BloomMightContain]] probe drops
    * big-side rows at the scan, and the exact semi join behind it
    * removes the sketch's false positives. At 100 TB the win is that
    * the big side's shuffle ships ~selectivity× the bytes — rows that
    * cannot match never reach the exchange; `fpp` trades sketch size
    * (~1.2 bytes/key at 1%) against extra shuffled false positives.
    * Measured (BloomBench, BASELINE.md "Bloom bench"): 22.8% of the
    * plain sort-merge semi join's shuffle write at 20% selectivity,
    * identical row sets. When the planner broadcasts the small side
    * anyway, the probe's saving shrinks to early row elimination —
    * the sketch matters in the no-broadcast regime. */
  def bloomSemiJoin(big: DataFrame, bigKey: Column,
                    small: DataFrame, smallKey: Column,
                    fpp: Double = 0.01): DataFrame = {
    val keys = small.select(smallKey.cast("long").as("__bk"))
      .filter(col("__bk").isNotNull)
    val n = keys.count()
    // an empty build side has no sketch to build (stat.bloomFilter's
    // aggregate yields an unwritable null-bits filter) — and needs
    // none: the exact semi join alone is already empty-fast
    val prefiltered = if (n == 0) big else {
      val bf = keys.stat.bloomFilter("__bk", n, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      big.filter(functions.BloomMightContain.mightContain(bos.toByteArray,
        bigKey.cast("long")))
    }
    prefiltered.join(keys, bigKey.cast("long") === col("__bk"), "left_semi")
  }

  /** Native codegen'd dot product of two double arrays. */
  def dot(a: Column, b: Column): Column = functions.GraftFunctions.dot(a, b)

  /** Native codegen'd count of positions where two equal-length long
    * arrays match (the MinHash signature-agreement kernel). */
  def matchCount(a: Column, b: Column): Column =
    functions.ArrayMatchCount.matchCount(a, b)

  /** Deterministic ~`keepPermille`/1000 sample decision on a stable
    * long id: engine-, run- and parallelism-independent (q_sample_det's
    * overflow-safe multiplicative hash — the id is reduced mod 1e9+7
    * before the Knuth multiply so the product stays under 2^62). */
  def deterministicKeep(id: Column, keepPermille: Int): Column =
    deterministicKeep(id, lit(keepPermille))

  /** Column-valued keep rate — per-row mixture weights (q_mixture_
    * sample's shape: each source/stratum carries its own permille). */
  def deterministicKeep(id: Column, keepPermille: Column): Column =
    pmod(pmod(id, lit(1000000007L)) * 2654435761L, lit(1000)) < keepPermille

  /** Self-trained n-gram-profile language ID over ANY labeled
    * (id, text, lang) DataFrame: builds a top-`topK`-token profile per
    * language from the corpus itself, scores every document by profile
    * overlap, predicts argmax (ties → lexicographic language).
    * Returns (doc_id, lang, pred_lang) for EVERY input document — a
    * document sharing no token with any language profile keeps its row
    * with a NULL pred_lang (an "undetermined" sentinel callers can
    * count), so downstream confusion matrices never silently
    * undercount. The true label rides along so callers build those
    * matrices without re-joining the corpus.
    * Profiles are ≤ topK·|languages| rows — a broadcast — so scoring
    * is one map-side join at any corpus size. ONE tokenize+count
    * table ([[langTokenCounts]], shared) feeds both profile building
    * and scoring: the two consumers are separate plan subtrees (the
    * profile self-join re-ids attributes, so neither ReuseExchange nor
    * AQE stage reuse dedups them), so the table is written once and
    * both read it. */
  def languageId(docs: DataFrame, id: Column, text: Column, lang: Column,
                 topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokC = langTokenCounts(docs, id, text, lang)
    val wTop = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token").asc)
    val profiles = tokC.groupBy("lang", "token").agg(sum("cnt").as("cnt"))
      .select(col("lang").as("profile_lang"), col("token"),
              row_number().over(wTop).as("rk"))
      .filter(col("rk") <= topK)
      .select("profile_lang", "token")
    // argmax as a map-side-combinable aggregate, not a window:
    // min_by over (-overlap, profile_lang) = max overlap, ties to the
    // lexicographically smallest language — identical semantics to a
    // (overlap DESC, profile_lang ASC) row_number()=1, without the
    // per-doc shuffle + sort. The profile join is LEFT so zero-overlap
    // docs survive to the output (their min_by sees only NULLs →
    // pred_lang NULL); the overlap count ignores the NULL token rows
    // via count(profile_lang).
    tokC.select("doc_id", "lang", "token")
      .join(broadcast(profiles), Seq("token"), "left")
      .groupBy("doc_id", "lang", "profile_lang")
      .agg(count(col("profile_lang")).as("overlap"))
      .groupBy("doc_id", "lang")
      .agg(min_by(col("profile_lang"),
                  struct(negate(col("overlap")), col("profile_lang"))).as("pred_lang"))
      .select("doc_id", "lang", "pred_lang")
  }

  /** The per-(doc, lang, token) count table [[languageId]] consumes —
    * one tokenize+count pass over the labeled corpus, a
    * [[TempTables.shared]] table. */
  def langTokenCounts(docs: DataFrame, id: Column, text: Column,
                      lang: Column): DataFrame =
    TempTables.shared("lang_token_counts",
      docs.select(id.cast("long").as("doc_id"), lang.as("lang"),
          explode(split(text, " ")).as("token"))
        .groupBy("doc_id", "lang", "token").agg(count(lit(1)).as("cnt")))()

  /** Quality-scoring signals for a whitespace-token text column with a
    * known char count: (n_tokens, avg_len_centi, stop_permille,
    * quality_permille) as a struct — the q_text_quality signals in
    * generic form. Integer floor-div outputs (engine-portable: float
    * rounding flaps at exact .005 boundaries, integers cannot).
    * `stopwords` defaults to the corpus gate's {the, a}. */
  def qualitySignals(text: Column, nChars: Column,
                     stopwords: Seq[String] = Seq("the", "a")): Column = {
    val t = split(text, " ")
    val nL = size(t).cast("long")
    val stopsL = size(filter(t, tok => stopwords.map(tok === _).reduce(_ || _)))
      .cast("long")
    struct(size(t).as("n_tokens"),
           floor((nChars - (nL - 1)) * 100 / nL).cast("long").as("avg_len_centi"),
           floor(stopsL * 1000 / nL).cast("long").as("stop_permille"),
           floor(least(nL, lit(50L)) * (nL - stopsL) * 1000 / (lit(50L) * nL))
             .cast("long").as("quality_permille"))
  }

  /** Quality-gate calibration over a BOUNDED integer score — the
    * table a pipeline reads BEFORE turning a filter on, to see whether
    * one global threshold is biased against a source/language (the
    * CCNet/Gopher lesson: a single perplexity or quality cut tuned on
    * English silently guts the tail languages). Per group: row count,
    * the exact `pcts` percentiles of the score (percentile_disc lower
    * semantics: the smallest score whose cumulative count reaches
    * ceil(p·n/100), stated identically in both engines as
    * `cum·100 ≥ n·p` — no float interpolation to disagree on), the
    * rows a `score < gate` filter would drop, and the integer
    * drop-permille.
    *
    * Scale shape — the reason this takes a BOUNDED score and not an
    * arbitrary double: the first aggregate collapses the corpus to a
    * per-(group, score) HISTOGRAM, map-side-combinable, at most
    * (score range) rows per group REGARDLESS of corpus size — so the
    * cumulative window that follows partitions metadata-scale rows
    * (quality_permille: ≤ 1001 per group) and no corpus-scale
    * single-partition window exists at any scale. An unbounded score
    * would make the histogram corpus-scale and the window hot; feed
    * such scores through a fixed-width bucketing first. Rows whose
    * score is NULL are excluded from every figure (the SQL aggregate
    * convention) — pre-filter or coalesce if they must count. */
  def gateCalibration(df: DataFrame, group: Column, score: Column,
                      gate: Long, pcts: Seq[Int] = Seq(25, 50, 90)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in 1..100, got $pcts")
    require(pcts.distinct.size == pcts.size, s"pcts must be distinct, got $pcts")
    import org.apache.spark.sql.expressions.Window
    // NULL scores are EXCLUDED from every figure (the SQL aggregate
    // convention): left in, they would form their own histogram row
    // that sorts first, inflating n_rows and every cum threshold while
    // the percentile mins skip them — percentiles silently reported
    // high and drop_permille inconsistent with n_rows
    val hist = df.select(group.as("group"), score.cast("long").as("s"))
      .filter(col("s").isNotNull)
      .groupBy("group", "s").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum("c").over(
        Window.partitionBy("group").orderBy("s")))
      .withColumn("n_rows", sum("c").over(Window.partitionBy("group")))
    val aggs =
      pcts.map(p => min(when(col("cum") * 100 >= col("n_rows") * p, col("s")))
                      .as(s"p$p")) :+
      sum(when(col("s") < gate, col("c")).otherwise(lit(0L))).as("n_dropped")
    cum.groupBy("group")
      .agg(max("n_rows").as("n_rows"), aggs: _*)
      .withColumn("drop_permille", expr("n_dropped * 1000 div n_rows"))
  }

  /** Token counts for a text column, three ways: whitespace tokens, a
    * BPE-ish `[^a-z0-9]+` regex tokenization, and a subword estimate
    * (ceil(len/2) per token — the fixed-rate byte-level budget proxy).
    * The q_token_count signals in generic per-row form. */
  def tokenCounts(text: Column): Column = {
    val t = split(text, " ")
    struct(size(t).as("n_ws"),
           size(split(text, "[^a-z0-9]+")).as("n_re"),
           aggregate(t, lit(0L),
             (acc, tok) => acc + floor((length(tok) + 1) / 2.0).cast("long"))
             .as("n_subword"))
  }

  /** PII detection + redaction accounting for a text column — the
    * scrub stage every production training-data pipeline runs before
    * anything leaves the raw zone. Three detector classes as one
    * struct: email addresses, phone-shaped numbers (the NANP
    * 555-prefixed form this corpus synthesizes), dotted-quad IPs —
    * counts per class plus `redacted_chars`, the characters a
    * replace-with-empty redaction pass removes (the byte budget the
    * scrub saves / the audit row a compliance report wants).
    *
    * Patterns are deliberately RE2-compatible (character classes,
    * bounded repeats, no lookaround, no backtracking-dependent
    * alternation) so Java regex (Spark) and RE2 (DuckDB, Go
    * scrubbers) agree match-for-match — leftmost-greedy and
    * leftmost-longest coincide on these shapes. Pure per-row
    * computation: at 100 TB this is a mapper, zero shuffle. */
  def piiSignals(text: Column): Column = {
    val counts = PiiPatterns.all.map { case (name, p) =>
      regexp_count(text, lit(p)).cast("long").as(s"n_$name")
    }
    val scrubbed = PiiPatterns.all.foldLeft(text) {
      case (c, (_, p)) => regexp_replace(c, p, "")
    }
    struct(counts :+
      (length(text) - length(scrubbed)).cast("long").as("redacted_chars"): _*)
  }

  /** HTML → text EXTRACTION — the stage BEFORE everything else this
    * engine does: a raw crawl is markup, and every dedup/quality/
    * tokenizer operator downstream assumes clean text. Four passes,
    * in this stated order (the order IS the contract — rule F):
    *
    *  1. drop whole boilerplate ELEMENTS with their content —
    *     `<head>…</head>` (carries `<title>`/`<style>`, which a
    *     naive tag-strip would leak into the text), `<nav>`,
    *     `<footer>`, `<script>`, `<style>` — via non-greedy
    *     `(?s)<tag(?:\s[^>]*)?>.*?</tag>` (no nesting of a tag
    *     inside itself, the crawl-extraction convention). The open
    *     tag is NAME-ANCHORED: after the tag name only whitespace+
    *     attributes or an immediate `>` may follow (round-15
    *     ADVICE — the earlier `<tag[^>]*>` matched any tag merely
    *     STARTING with the name, so `<nav-menu>keep</nav-menu>`
    *     followed by a genuine `<nav>…</nav>` silently swallowed
    *     'keep' up to the first real `</nav>`);
    *  2. strip every remaining tag `<[^>]*>` → one space (a space,
    *     not empty: `<p>a</p><p>b</p>` must not weld words);
    *  3. unescape the three core entities, LITERAL replaces in the
    *     fixed order `&lt;` → `<`, `&gt;` → `>`, `&amp;` → `&`
    *     (amp LAST, so `&amp;lt;` correctly yields the literal
    *     string `&lt;`, never a second round of unescaping);
    *  4. collapse runs of whitespace to single spaces and trim.
    *
    * All patterns are RE2-compatible (non-greedy `.*?` and `(?s)`
    * mean the same thing in Java regex and RE2), so Spark and a
    * Go/DuckDB extractor agree byte-for-byte. Pure per-row column
    * arithmetic: at 100 TB this is a mapper, zero shuffle. */
  def htmlExtract(html: Column): Column = {
    val noBlocks = Seq("head", "nav", "footer", "script", "style")
      .foldLeft(html) { (c, t) =>
        regexp_replace(c, s"(?s)<$t(?:\\s[^>]*)?>.*?</$t>", " ")
      }
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) =>
        call_function("replace", c, lit(ent), lit(ch))
      }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** URL CANONICALIZATION — the [[htmlExtract]] of the URL family:
    * URL-level dedup and domain accounting are only as good as the
    * canonical form they key on (the same page hides behind a cased
    * host, a default port, a trailing slash, and tracking params).
    * Five passes in this stated order (rule F — the order IS the
    * contract):
    *
    *  1. case-fold the scheme+host prefix (`^[a-zA-Z]+://[^/:?]*`)
    *     to lower; the PATH stays case-sensitive per RFC 3986;
    *  2. drop an explicit `:443` default port right after the host —
    *     ONLY under an `https://` scheme (round-15 ADVICE: `:443` on
    *     `http://` is a NON-default port and must survive);
    *  3. strip `utm_*` tracking params in three separator-anchored
    *     passes, each with a LITERAL replacement (no capture-group
    *     replacement syntax, which Java (`$1`) and RE2 (`\1`) spell
    *     differently): (a) every `&utm_[a-z_]+=[^&]*` — a utm param
    *     carrying its own `&` — is dropped WITH that `&`; (b) a
    *     leading `\?utm_[a-z_]+=[^&]*&` → `?` (first param, others
    *     follow — the next param is promoted to first); (c) a lone
    *     `\?utm_[a-z_]+=[^&]*\z` → dropped with its `?`. After (a)
    *     at most one utm survives and only as the sole leading
    *     param, so (b)/(c) are exhaustive and exclusive. Every
    *     pattern requires the `?`/`&` separator BEFORE `utm_`
    *     (round-15 ADVICE: the old unanchored pass matched INSIDE a
    *     non-utm name, so `?xutm_source=1&ref=k` corrupted to
    *     `?xref=k` — now non-utm params survive untouched, including
    *     names that merely contain `utm_`);
    *  4. collapse ONE path trailing slash, anchored to the true
    *     path-final position: the string is split at the FIRST `?`
    *     (`^[^?]*`), the path part drops a trailing `/` (`/\z`), the
    *     query part is re-attached untouched (round-15 ADVICE: the
    *     old literal global `/?` → `?` fired anywhere, e.g. inside a
    *     query VALUE like `?next=/home/?x`);
    *  5. nothing else — the canonical form is deliberately
    *     conservative (no param re-ordering, no %-decoding).
    *
    * All patterns RE2-compatible — end-of-string anchoring is `\z`
    * everywhere, never `$` (round-15 ADVICE: Java's `$` also matches
    * before a final newline, RE2's only at absolute end, so `$`
    * diverges exactly on trailing-newline inputs; `\z` means
    * absolute end in both). Pure per-row column arithmetic — a
    * mapper at any corpus size. */
  def urlCanonicalize(url: Column): Column = {
    val pre = regexp_extract(url, "^[a-zA-Z]+://[^/:?]*", 0)
    val rest = call_function("substr", url, length(pre) + 1)
    // drop the default port by PREFIX TEST on the split remainder —
    // no capture-group replacement, whose syntax Java regex ($1) and
    // RE2 (\1) spell differently (the one divergence this family's
    // RE2-compatible stance cannot paper over) — gated on the https
    // scheme, where 443 IS the default
    val restNoPort = when(lower(pre).startsWith("https://") &&
        rest.rlike("^:443(/|\\?|\\z)"),
      call_function("substr", rest, lit(5))).otherwise(rest)
    val noUtm = regexp_replace(
      regexp_replace(
        regexp_replace(concat(lower(pre), restNoPort),
          "&utm_[a-z_]+=[^&]*", ""),
        "\\?utm_[a-z_]+=[^&]*&", "?"),
      "\\?utm_[a-z_]+=[^&]*\\z", "")
    val path = regexp_extract(noUtm, "^[^?]*", 0)
    val query = call_function("substr", noUtm, length(path) + 1)
    concat(regexp_replace(path, "/\\z", ""), query)
  }

  /** The shared PII pattern registry — ONE definition so the scan,
    * its tests, and any redaction stage can never drift. Order is the
    * redaction order (fixed: a sequential replace in a different
    * order could change `redacted_chars` if classes overlapped). */
  private[graft] object PiiPatterns {
    val email = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+"
    val phone = "555-[0-9]{4}"
    val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val all: Seq[(String, String)] =
      Seq("emails" -> email, "phones" -> phone, "ips" -> ip)
  }

  /** Deterministic SOURCE-INTERLEAVED curriculum order — the data-
    * layout stage between sampling and packing: within each source
    * the docs take the seeded [[epochShuffleKey]] order (the
    * q_shuffle_det bijection — engine-portable, no floats), and the
    * global order interleaves sources round-robin by per-source
    * position (all the src_pos=1 docs first, source-name order, then
    * all src_pos=2 …). The guarantee a mixture-trained run wants,
    * stated precisely: WHILE every source still has docs remaining,
    * each consecutive block of |sources| positions touches every
    * source exactly once; once a source exhausts, the remaining
    * stream round-robins over the surviving sources — so the tail of
    * a severely unbalanced corpus is dominated by its biggest source
    * (run a volume cap / [[mixtureWeights]] resample upstream if that
    * matters). The order is bit-reproducible on any engine and any
    * partitioning.
    *
    * Output: (doc_id, source, src_pos, global_pos) — both positions
    * 1-based longs. Scale shape: per-source rank via the two-pass
    * distributed [[groupedRankDesc]] (a hot source degrades to
    * `buckets` window partitions, never one); the global position is
    * then PURE ROW-LOCAL ARITHMETIC against the broadcast per-source
    * count table (round 17 — it used to run a second corpus-scale
    * two-pass rank over (src_pos, source) plus a corpus-scale
    * re-attach join, ~40 document scans / 100 exchanges in the
    * composed plan): in the (src_pos ASC, source ASC) total order the
    * rows before (p, s) are exactly Σ_s' min(c_s', p−1) rows with a
    * smaller position plus the sources s' < s with c_s' ≥ p holding
    * row p — a fold over the ≤|sources|-entry count array. No
    * single-partition window anywhere, no collect; |sources| is
    * metadata-scale by the mixture contract ([[mixtureWeights]]'
    * stance). */
  def interleaveBySource(df: DataFrame, id: Column, source: Column,
                         seed: Long): DataFrame = {
    val keyed = df.select(id.cast("long").as("doc_id"), source.as("source"))
      .select(col("doc_id"), col("source"),
              epochShuffleKey(col("doc_id"), seed).as("__sk"))
    // key = −shuffle-key: groupedRankDesc's (key DESC, tie ASC) order
    // becomes (shuffle-key ASC, doc_id ASC) — the epoch order; the
    // key is < 1e9+7 so the double cast is exact
    val srcPos = groupedRankDesc(keyed, col("source"),
        negate(col("__sk").cast("double")), col("doc_id"))
      .select(col("group").as("source"), col("tie").cast("long").as("doc_id"),
              col("rank").as("src_pos"))
    // ONE metadata-scale aggregate → 1-row sorted (source, count)
    // array scalar; global_pos = 1 + fold over it (exact integer
    // arithmetic — the same total order the removed rank computed:
    // row_number under (src_pos ASC, source ASC), source unique per
    // src_pos so the order is total).
    // NULL sources order FIRST via an explicit sentinel (round-17
    // ADVICE): the bare `s' < s` comparison is NULL — i.e. false —
    // both for a null-source row and for comparisons against it, so
    // a null source and the lexicographically-first real source at
    // the same src_pos could share a global_pos. The removed window
    // form was nulls-first ASC; a U+0000 sentinel below U+0001-prefixed non-null keys
    // reproduces that strict total order, and prefixing every
    // non-null source with the SAME byte preserves their relative
    // order bit-exactly.
    val skey = (src: Column) => when(src.isNull, lit("\u0000"))
      .otherwise(concat(lit("\u0001"), src))
    val counts = keyed.groupBy("source").agg(count(lit(1)).as("__c"))
      .agg(array_sort(collect_list(struct(skey(col("source")).as("sk"), col("__c"))))
        .as("__sc"))
    srcPos.crossJoin(broadcast(counts))
      .select(col("doc_id"), col("source"), col("src_pos"),
              (aggregate(col("__sc"), lit(0L), (acc, x) =>
                 acc + least(x.getField("__c"), col("src_pos") - 1) +
                   when(x.getField("__c") >= col("src_pos") &&
                        x.getField("sk") < skey(col("source")), lit(1L))
                     .otherwise(lit(0L))) + lit(1L)).as("global_pos"))
  }

  /** Temperature-τ=½ mixture REWEIGHTING per group — the
    * source-sampling stage between corpus accounting and the actual
    * mixture draw (the flattened-distribution trick of multilingual /
    * multi-domain training: raw token shares give hot sources too
    * much of the schedule, uniform gives tail sources too much;
    * share^½ sits between). Output per group: (group, n_docs,
    * n_tokens, share_permille = 1000·tokens div total,
    * weight_permille = 1000·isqrt(share) div Σ isqrt(share)).
    *
    * ALL-INTEGER pipeline (rule F): the only float op is
    * sqrt(integer-permille), which IEEE defines as correctly rounded
    * — identical on every engine — and its FLOOR is taken
    * immediately, so no float ever enters a sum (a Σ of doubles
    * is summation-order-dependent; a Σ of floored longs is not).
    * Scale shape: one scan → per-group map-side-combinable aggregate
    * (groups are metadata-scale by definition) → 1-row totals cross.
    */
  def mixtureWeights(df: DataFrame, group: Column, tokens: Column): DataFrame = {
    val per = df.select(group.as("group"), tokens.cast("long").as("t"))
      .groupBy("group")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total"))
    val shared = per.crossJoin(broadcast(tot))
      .select(col("group"), col("n_docs"), col("n_tokens"),
              expr("n_tokens * 1000L div total").as("share_permille"))
      .withColumn("isq", floor(sqrt(col("share_permille").cast("double"))).cast("long"))
    val isqTot = shared.agg(sum(col("isq")).as("isq_total"))
    // a corpus with >1000 near-equal groups floors EVERY share to 0
    // permille, so isq_total = 0 and the weight divisor vanishes —
    // non-ANSI div would emit all-NULL weights, silently breaking the
    // all-integer output contract (review catch); fail loudly instead
    // (the q_span_drop overflow-guard posture): at that group count
    // the permille grid itself is too coarse to carry the answer
    val guarded = when(col("isq_total") > 0, expr("isq * 1000L div isq_total"))
      .otherwise(raise_error(lit(
        "mixtureWeights: isq_total = 0 — every group's token share floors below " +
        "1 permille (more than ~1000 groups); coarsen the grouping or rescale"))
        .cast("long"))
    shared.crossJoin(broadcast(isqTot))
      .select(col("group"), col("n_docs"), col("n_tokens"), col("share_permille"),
              guarded.as("weight_permille"))
  }

  /** EXACT water-filling token-budget allocator — the mixture-DESIGN
    * step after [[mixtureWeights]]'s descriptive shares: given a
    * total training budget (`budgetPermille` of the corpus token
    * mass) and a per-group repeat cap (`capPermille` of each group's
    * own mass — the data-constrained "max N epochs" rule), allocate
    * the budget proportionally to weight w = ⌊√tokens⌋ (the same
    * sqrt-damped stance as mixtureWeights) EXCEPT that no group ever
    * exceeds its cap; budget freed by capped groups re-flows to the
    * rest, recursively — true water-filling, not a single
    * redistribution pass.
    *
    * CONTRACT (stated precisely — round-14 ADVICE): the semantics is
    * the QUANTIZED-ORDER sequential test, not the order-free
    * fixpoint. Groups are ordered by the 2⁻²⁰-quantized cap/weight
    * ratio (cap·2²⁰ div w, ties by group — the stated total order;
    * the rk product runs in decimal so it never wraps), and the
    * saturated set is the maximal prefix of THAT order passing
    * capᵢ·W_fromᵢ ≤ wᵢ·(B − C_beforeᵢ), where C_before sums ALL
    * earlier caps and W_from sums the weights from row i on. The
    * test is monotone along the order (a failing row makes every
    * later row fail — the remaining-ratio R/W only shrinks), so the
    * two prefix sums decide the whole answer in ONE window pass —
    * no iteration, no driver loop. On inputs where two groups' true
    * ratios differ by less than 2⁻²⁰ relative, the quantized order
    * may transpose them and the prefix test can then differ from the
    * iterative water-filling fixpoint; both engines implement the
    * SAME quantized order (the oracle mirrors rk exactly), so
    * engine agreement is unconditional — the quantized order IS the
    * spec, and PipelineSpec's fixpoint cross-check holds because its
    * inputs keep ratio gaps far above 2⁻²⁰. The comparison products
    * run in decimal(38,0) (capᵢ·Σw overflows a long past ~240 B
    * tokens per group; the oracle mirrors via HUGEINT); the final
    * proportional share divides with `div` (exact integer floor —
    * FLOOR over decimal `/` would pre-round HALF_UP at scale 6) and
    * the unallocated floor dust is reported, never silently
    * vanished.
    *
    * Output per group: n_tokens, weight, cap_tokens, saturated
    * (1/0), alloc_tokens, epochs_milli = alloc·1000 div tokens.
    * Scale shape: ONE map-side-combinable per-group aggregate
    * collapses the corpus; every window/cross below it runs over
    * ≤ |groups| rows. */
  def tokenBudget(df: DataFrame, group: Column, tokens: Column,
                  budgetPermille: Long = 2000L,
                  capPermille: Long = 4000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetPermille >= 1 && capPermille >= 1,
      s"budget/cap permille must be >= 1, got $budgetPermille/$capPermille")
    val per = df.select(group.as("group"), tokens.cast("long").as("t"))
      .groupBy("group").agg(sum(col("t")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("weight", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      .withColumn("cap_tokens", expr(s"n_tokens * ${capPermille}L div 1000"))
    val tot = per.agg(sum(col("n_tokens")).as("corpus_tokens"))
    val ordered = per.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"corpus_tokens * ${budgetPermille}L div 1000"))
      // rk product in decimal: long cap_tokens · 2²⁰ silently wraps
      // past cap ≈ 8.8e12 under ANSI-off while DuckDB raises — the
      // engine-divergence class the q_sample_det scaladoc condemns
      // (round-14 ADVICE). div on decimal is exact and returns long.
      .withColumn("rk",
        expr("CAST(cap_tokens AS DECIMAL(38,0)) * 1048576 div weight"))
    val wOrd = Window.orderBy(col("rk"), col("group"))
    val tested = ordered
      .withColumn("c_before",
        coalesce(sum(col("cap_tokens"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("w_from",
        sum(col("weight"))
          .over(wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("saturated",
        when(expr("""CAST(cap_tokens AS DECIMAL(38,0)) * w_from
                     <= CAST(weight AS DECIMAL(38,0)) * (budget - c_before)"""),
             lit(1L)).otherwise(lit(0L)))
    val residual = tested.agg(
      sum(when(col("saturated") === 1, col("cap_tokens")).otherwise(lit(0L)))
        .as("sat_caps"),
      sum(when(col("saturated") === 0, col("weight")).otherwise(lit(0L)))
        .as("w_unsat"))
    tested.crossJoin(broadcast(residual))
      .withColumn("alloc_tokens",
        when(col("saturated") === 1, col("cap_tokens"))
          // div, not FLOOR(decimal/decimal): `/` pre-rounds HALF_UP
          // at scale 6, off-by-one vs the oracle's HUGEINT `//` once
          // w_unsat > 2e6 (round-14 ADVICE)
          .otherwise(expr("""CAST(weight AS DECIMAL(38,0))
                             * (budget - sat_caps) div w_unsat""")))
      .select(col("group"), col("n_tokens"), col("weight"), col("cap_tokens"),
              col("saturated"), col("alloc_tokens"),
              expr("alloc_tokens * 1000L div n_tokens").as("epochs_milli"))
  }

  /** Smallest power of two ≥ n (n ≥ 1), in PURE INTEGER via the
    * binary-width identity 2^len(bin(n−1)) — no float log2 to round
    * the wrong way on an exact power of two. The ONE definition of
    * the bucketing [[lengthBuckets]] and the gram-df histogram share
    * (both oracles state the identical string-length arithmetic). */
  def pow2Bucket(n: Column): Column =
    // call_function: the DataFrame shiftleft() helper only takes a
    // literal bit count; the SQL form accepts a column
    when(n <= 1, lit(1L))
      .otherwise(call_function("shiftleft", lit(1L), length(bin(n - 1))).cast("long"))

  /** Power-of-two LENGTH BUCKETS + padding-waste accounting — the
    * batching-efficiency table a training loader reads: each doc is
    * assigned the smallest power-of-two context ≥ its token count
    * ([[pow2Bucket]]), and per bucket the report carries doc count,
    * real token total, the padded total (n_docs·bucket) and the
    * padding waste permille. Row-local assignment, one metadata-scale
    * rollup. */
  def lengthBuckets(df: DataFrame, tokens: Column): DataFrame = {
    df.select(tokens.cast("long").as("__n"))
      .select(pow2Bucket(col("__n")).as("bucket"), col("__n").as("t"))
      .filter(col("t") >= 1)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
              (col("n_docs") * col("bucket")).as("padded_tokens"),
              expr("(n_docs * bucket - n_tokens) * 1000L div (n_docs * bucket)")
                .as("waste_permille"))
  }

  /** Corpus-wide BPE merge-candidate table — the first step of
    * byte-pair-encoding tokenizer training (Sennrich et al. 2016,
    * "Neural Machine Translation of Rare Words with Subword Units"):
    * per adjacent character pair inside whitespace tokens, how many
    * times it occurs across every token OCCURRENCE of the corpus
    * (not distinct tokens — BPE counts mass, so a stop word occurring
    * 10⁶ times contributes 10⁶ to each of its pairs). The top pair IS
    * the first merge a BPE trainer would take; a pipeline reads this
    * table to seed tokenizer training on a corpus sample and as a
    * drift check between corpus snapshots (a shifted pair table means
    * the character statistics — language mix, boilerplate — moved).
    *
    * Scale shape: two generate stages (token explode, per-token
    * pair explode) feed ONE partial+final count whose key universe is
    * bounded by the symbol alphabet SQUARED (≤ ~10⁴ keys for ASCII
    * text at any corpus size), so the aggregate collapses map-side
    * and the only corpus-scale movement is the scan itself; the top-k
    * is a TakeOrdered over the collapsed table — no global sort, no
    * window. Ties break on the pair text (one stated total order,
    * engine-portable). */
  def bpePairStats(docs: DataFrame, text: Column, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    docs.select(explode(split(text, " ")).as("t"))
      .filter(length(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /** BPE merge-table LEARNING (round 12) — closes the loop
    * [[bpePairStats]] opens: run the byte-pair-encoding training
    * iteration `nMerges` times and return the merges in order. Each
    * iteration counts adjacent symbol pairs over the word-frequency
    * table (occurrence mass, all adjacent positions), takes the
    * argmax — ties broken by the pair's wrapped-pattern text, the ONE
    * total order the SQL oracle can state — and rewrites every word
    * by leftmost-greedy non-overlapping substitution (exactly the
    * semantics of SQL `replace`, so [[bpeEncode]]'s row-local replace
    * chain reproduces the learner's segmentation verbatim).
    *
    * Scale shape: ONE corpus pass builds the word-frequency table and
    * the top-`vocabLimit` cut bounds driver state (the tfidfVectors /
    * ivfTrain model-scalar pattern — production BPE trainers run on
    * exactly this aggregated table); the driver loop is the
    * INCREMENTAL pair-count algorithm ([[bpeLearnMergesFromVocab]] —
    * O(Σ|word|·max|word|) TOTAL across all merges, not
    * O(nMerges·Σ|word|)), integer counts throughout, fully
    * deterministic — measured at tokenizer scale in BpeSpec: 32,768
    * merges over a 32,768-type synthetic frequency table run in
    * single-digit seconds, where the naive recount-per-merge loop
    * would take hundreds. Words containing '(' or ')' are REJECTED
    * loudly — here for the learned vocabulary (driver require), and
    * per ROW in [[bpeEncode]] for everything below the vocab cut
    * (round-12 review: the cut meant a rare paren-bearing word could
    * reach encode unchecked) — they would corrupt the wrapped-symbol
    * form; remap such corpora before tokenizing. */
  /** UTF-8 BYTE ordering for BPE pattern tie-breaks (round-12
    * review): DuckDB's ORDER BY and Spark SQL's UTF8String both
    * compare bytes, while Java's String.compareTo compares UTF-16
    * units — the two diverge on supplementary characters (a surrogate
    * pair sorts before U+E000..U+FFFF in UTF-16 but after in UTF-8),
    * so a count-tie between such patterns would pick different merges
    * per engine under the JVM default order. Hoisted (review ×2): the
    * ordering is loop-invariant. */
  private val bpePatternOrder: Ordering[String] = (x: String, y: String) =>
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def bpeLearnMerges(docs: DataFrame, text: Column, nMerges: Int,
                     vocabLimit: Int): Seq[(String, String)] = {
    // both gates BEFORE the corpus-scale aggregate runs (review
    // catch: validating nMerges only inside the vocab form made a
    // bad argument cost a full corpus pass + driver collect first)
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(vocabLimit >= 1, s"vocabLimit must be >= 1, got $vocabLimit")
    val words = docs.select(explode(split(text, " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc).limit(vocabLimit)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    bpeLearnMergesFromVocab(words.toIndexedSeq, nMerges)
  }

  /** The BPE merge loop itself, over an ALREADY-AGGREGATED
    * (word, frequency) table — the form production trainers consume
    * (and the form [[bpeLearnMerges]] collects); public so the driver
    * bound can be measured on synthetic frequency tables without a
    * corpus scan (BpeSpec's 32k-merge benchmark).
    *
    * The loop is INCREMENTAL (the standard trainer shape): adjacent
    * pair counts and a pair → word-index occurrence list are built
    * once; each merge rewrites ONLY the words that contain the merged
    * pair and applies count deltas for exactly the adjacencies those
    * rewrites destroy and create, with the argmax served by a
    * max-heap under lazy deletion (an entry whose snapshot count no
    * longer matches the live map is re-pushed at the live count, so a
    * heap pop can only ever surface the true current argmax). Each
    * merge that touches a word shortens it by ≥ 1 symbol, so a word
    * of length L is rewritten < L times across the WHOLE run: total
    * work is O(Σ|word| · max|word| · log) regardless of nMerges, vs
    * the naive recount-per-merge O(nMerges · Σ|word|) — at 32k merges
    * over a 32k-type vocabulary the difference is seconds vs hours
    * (measured in BpeSpec, which also pins exact merge-sequence
    * equivalence against an independent naive reference).
    *
    * Argmax order: (count DESC, wrapped-pattern "(a)(b)" ASC in UTF-8
    * BYTE order) — the ONE total order the SQL oracle can state; see
    * [[bpePatternOrder]]. Stops early ("dry") when no adjacent pair
    * remains. Words containing '(' or ')' are rejected loudly (they
    * would corrupt the wrapped-symbol form). */
  def bpeLearnMergesFromVocab(words: IndexedSeq[(String, Long)],
                              nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(words.forall(w => !w._1.contains('(') && !w._1.contains(')')),
      "bpeLearnMerges: words containing '(' or ')' would corrupt the " +
        "wrapped-symbol form — remap them before tokenizer training")
    // non-positive frequencies would silently zero or invert pair
    // counts inside the incremental deltas (review catch: the
    // internal caller aggregates counts >= 1 by construction, but
    // this entry point is public) — reject loudly, like the parens
    require(words.forall(_._2 >= 1),
      "bpeLearnMergesFromVocab: word frequencies must be >= 1")
    // split into CODE POINTS (not UTF-16 units), matching both
    // engines' regexp '(?s)(.)' wrap of supplementary characters
    def codePoints(w: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }
    val syms = words.map { case (w, _) => codePoints(w) }.toArray
    val freqs = words.map(_._2).toArray
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    // pair → indices of words where the pair has EVER occurred: a
    // lazy superset, never pruned — a stale index only makes that
    // pair's eventual merge rescan a word it no longer occurs in (a
    // cheap no-op), which keeps occurrence bookkeeping O(1) per bump
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]
    // max-heap of snapshot entries: greatest = highest count, then
    // byte-wise SMALLEST wrapped pattern (argmax = one dequeue)
    case class Entry(cnt: Long, pat: String, a: String, b: String)
    val heapOrd = new Ordering[Entry] {
      def compare(x: Entry, y: Entry): Int =
        if (x.cnt != y.cnt) java.lang.Long.compare(x.cnt, y.cnt)
        else bpePatternOrder.compare(y.pat, x.pat)
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[Entry](heapOrd)
    def bump(a: String, b: String, delta: Long, wordIdx: Int): Unit = {
      val k = (a, b)
      val c = counts.getOrElse(k, 0L) + delta
      if (c == 0L) counts.remove(k) else counts.update(k, c)
      if (delta > 0) {
        occ.getOrElseUpdate(k,
          scala.collection.mutable.ArrayBuffer.empty[Int]) += wordIdx
        heap.enqueue(Entry(c, s"($a)($b)", a, b))
      }
    }
    var w = 0
    while (w < syms.length) {
      val s = syms(w)
      var i = 0
      while (i < s.length - 1) { bump(s(i), s(i + 1), freqs(w), w); i += 1 }
      w += 1
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < nMerges && heap.nonEmpty) {
      val e = heap.dequeue()
      val live = counts.getOrElse((e.a, e.b), 0L)
      if (live != e.cnt) {
        // stale snapshot: re-enter at the live count (if the pair
        // still exists) and re-pop — no live pair is ever lost
        if (live > 0L) heap.enqueue(Entry(live, e.pat, e.a, e.b))
      } else {
        // argmax by (count DESC, wrapped-pattern ASC) — the pattern
        // string IS the tie order so the oracle's `ORDER BY cnt DESC,
        // pat` states the identical total order; byte-order
        // comparison via the loop-invariant [[bpePatternOrder]].
        val (a, b) = (e.a, e.b)
        merges += ((a, b))
        val touched = occ.remove((a, b))
          .map(_.distinct)
          .getOrElse(scala.collection.mutable.ArrayBuffer.empty[Int])
        touched.foreach { wi =>
          val old = syms(wi)
          val f = freqs(wi)
          // a stale occurrence index: the word may no longer contain
          // the pair after earlier rewrites — skip without deltas
          var has = false
          var i = 0
          while (!has && i < old.length - 1) {
            has = old(i) == a && old(i + 1) == b; i += 1
          }
          if (has) {
            i = 0
            while (i < old.length - 1) {
              bump(old(i), old(i + 1), -f, wi); i += 1
            }
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            i = 0
            while (i < old.length) {
              if (i < old.length - 1 && old(i) == a && old(i + 1) == b) {
                out += a + b; i += 2
              } else { out += old(i); i += 1 }
            }
            syms(wi) = out.toArray
            i = 0
            while (i < out.length - 1) {
              bump(out(i), out(i + 1), f, wi); i += 1
            }
          }
        }
      }
    }
    merges.toSeq
  }

  /** Row-local BPE ENCODE under a learned merge table: word →
    * wrapped-symbol string, e.g. "low" → "(lo)(w)" after merge (l,o).
    * Pure string engine built-ins — one regexp wrap + one `replace`
    * per merge, applied IN ORDER — so the segmentation is exactly the
    * leftmost-greedy semantics [[bpeLearnMerges]] trained with, on
    * any engine (SQL `replace` is leftmost non-overlapping in Spark
    * and DuckDB alike; the '(sym)' wrapping makes adjacent matches
    * share no characters, so back-to-back pairs both merge). Zero
    * shuffle at any corpus size.
    *
    * A word CONTAINING '(' or ')' fails loudly AT THE ROW
    * (raise_error, round-12 review): the learner's vocab-cut gate
    * only sees the top-vocabLimit words, so a rare paren-bearing word
    * could otherwise slip past it into encode and silently corrupt
    * the delimiter count — the documented reject-don't-corrupt
    * contract must hold for EVERY encoded row, not just the learned
    * vocabulary. Two row-local `contains` checks; the mixtureWeights
    * raise_error precedent. */
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column = {
    val encoded = merges.foldLeft(regexp_replace(word, "(?s)(.)", "($1)")) {
      case (c, (a, b)) =>
        call_function("replace", c, lit(s"($a)($b)"), lit(s"($a$b)"))
    }
    when(word.contains("(") || word.contains(")"),
         raise_error(concat(lit("bpeEncode: word contains '(' or ')' and would " +
           "corrupt the wrapped-symbol form - remap before tokenizing: "), word)))
      .otherwise(encoded)
  }

  /** Token count of a [[bpeEncode]]d string — the number of '('
    * symbol delimiters; integer, row-local. */
  def bpeTokenCount(encoded: Column): Column =
    (length(encoded) -
      length(call_function("replace", encoded, lit("("), lit("")))).cast("long")

  /** Row-local BPE segmenter for PRODUCTION-SCALE merge tables
    * (round 13 — the encode-side sibling of
    * [[bpeLearnMergesFromVocab]]): returns a `word → symbols`
    * closure over a prebuilt rank index. [[bpeEncode]]'s replace
    * chain is the SQL-expressible, oracle-parity face, but it builds
    * one `replace` EXPRESSION NODE per merge — at the 32k merges the
    * incremental learner now trains in seconds, a 32k-deep Catalyst
    * expression tree is unplannable and the per-row cost is
    * O(nMerges · |word|) regardless of which merges apply. This form
    * is O((|word| + applications) · log) per row, INDEPENDENT of the
    * table size: symbols live in a linked list, candidate adjacencies
    * in a lazy-deletion min-heap ordered by (merge rank, position),
    * and a rank WATERMARK makes the processing order provably equal
    * to the replace chain's in-order single passes — a newly created
    * adjacency is admitted only at its smallest table rank STRICTLY
    * ABOVE the rank being processed (an in-order pass already behind
    * that rank never sees it; within one rank a merge can never
    * recreate its own pattern, since the merged symbol is strictly
    * longer than both parts). Duplicate patterns in the table (a
    * legitimate learner output when a pair re-emerges through
    * symbol-string coincidence) are handled by keeping EVERY rank per
    * pattern. Exact segmentation equivalence to the replace chain is
    * pinned in PropertySpec over random learned tables, and BpeSpec
    * drives it at the 32k-merge scale the chain cannot reach.
    *
    * Same loud paren gate as [[bpeEncode]] (reject-don't-corrupt, per
    * row). Use [[bpeEncodeIndexed]] for the Column form. */
  def bpeSegmenter(merges: Seq[(String, String)]): String => Seq[String] = {
    // rank index: every (a, b) pattern → ALL its table ranks, ascending
    val ranks = scala.collection.immutable.HashMap(
      merges.zipWithIndex.groupBy(_._1).map {
        case (p, rs) => p -> rs.map(_._2).toArray
      }.toSeq: _*)
    def smallestRankAbove(a: String, b: String, watermark: Int): Int =
      ranks.get((a, b)) match {
        case None => -1
        case Some(rs) =>
          // rs is ascending and tiny (≥ 2 entries only under
          // symbol-string coincidence); linear scan
          var i = 0
          while (i < rs.length && rs(i) <= watermark) i += 1
          if (i < rs.length) rs(i) else -1
      }
    (word: String) => {
      require(!word.contains('(') && !word.contains(')'),
        "bpeSegmenter: word contains '(' or ')' and would corrupt the " +
          "wrapped-symbol form - remap before tokenizing: " + word)
      // code-point split, matching bpeEncode's '(?s)(.)' wrap
      val syms = scala.collection.mutable.ArrayBuffer.empty[String]
      var ci = 0
      while (ci < word.length) {
        val cp = word.codePointAt(ci)
        syms += new String(Character.toChars(cp))
        ci += Character.charCount(cp)
      }
      val n = syms.length
      if (n < 2) syms.toSeq
      else {
        val next = Array.tabulate(n)(i => if (i == n - 1) -1 else i + 1)
        val prev = Array.tabulate(n)(i => i - 1)
        val alive = Array.fill(n)(true)
        case class Cand(rank: Int, pos: Int, a: String, b: String)
        implicit val ord: Ordering[Cand] =
          Ordering.by[Cand, (Int, Int)](c => (c.rank, c.pos))
        val heap = scala.collection.mutable.PriorityQueue.empty[Cand](ord.reverse)
        var i = 0
        while (i < n - 1) {
          val r = smallestRankAbove(syms(i), syms(i + 1), -1)
          if (r >= 0) heap.enqueue(Cand(r, i, syms(i), syms(i + 1)))
          i += 1
        }
        while (heap.nonEmpty) {
          val c = heap.dequeue()
          val j = c.pos
          val k = if (alive(j)) next(j) else -1
          // lazy validation: the pair must still be adjacent and
          // unchanged (a merge may have consumed or rewritten it)
          if (k >= 0 && syms(j) == c.a && syms(k) == c.b) {
            // splice: j absorbs k
            syms(j) = c.a + c.b
            val kn = next(k)
            alive(k) = false
            next(j) = kn
            if (kn >= 0) prev(kn) = j
            // the two dead adjacencies' replacements enter at their
            // smallest rank STRICTLY ABOVE the current one — the
            // watermark rule that reproduces in-order pass semantics
            val pj = prev(j)
            if (pj >= 0) {
              val r = smallestRankAbove(syms(pj), syms(j), c.rank)
              if (r >= 0) heap.enqueue(Cand(r, pj, syms(pj), syms(j)))
            }
            if (kn >= 0) {
              val r = smallestRankAbove(syms(j), syms(kn), c.rank)
              if (r >= 0) heap.enqueue(Cand(r, j, syms(j), syms(kn)))
            }
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var p = 0
        while (p >= 0) { if (alive(p)) out += syms(p); p = next(p) }
        out.toSeq
      }
    }
  }

  /** Column form of [[bpeSegmenter]]: word → the same wrapped
    * "(s1)(s2)…" string [[bpeEncode]] emits, as ONE Scala UDF over a
    * prebuilt rank index instead of an nMerges-deep replace chain —
    * the encode shape for production-scale merge tables. A UDF is the
    * honest tier here (SURVEY §4.3 ladder): the segmentation is a
    * data-dependent loop no built-in expresses, the replace chain
    * stops planning in the ten-thousands of merges, and the operator
    * stays row-local (zero shuffle at any corpus size) — the UDF
    * boundary costs serialization, not distribution. Output equality
    * with [[bpeEncode]] is pinned in BpeSpec; [[bpeTokenCount]]
    * applies unchanged. */
  def bpeEncodeIndexed(word: Column, merges: Seq[(String, String)]): Column = {
    val seg = bpeSegmenter(merges)
    udf((w: String) =>
      if (w == null) null
      else {
        val s = seg(w)
        // an empty word has no symbols to wrap — "" on both forms
        // (mkString's bookends would fabricate "()")
        if (s.isEmpty) "" else s.mkString("(", ")(", ")")
      }).apply(word)
  }

  // ──────────────── Unigram-LM tokenizer (SentencePiece-style) ────────────────

  /** Candidate-piece occurrence mass for unigram-LM tokenizer seeding
    * (round 14) — the OTHER real-world subword algorithm next to BPE
    * ([[bpeLearnMerges]]): where BPE grows pieces bottom-up by merging,
    * the unigram LM (Kudo 2018, the SentencePiece default) starts from
    * a large candidate set and prunes under an EM-fitted piece
    * distribution. This is the candidate set: every substring of
    * length 1..`maxPieceLen` of every word TYPE, scored by total
    * occurrence mass (word frequency × positions inside the word),
    * top-`topK` by (mass DESC, piece ASC — rule O).
    *
    * Scale shape: the word-frequency aggregate is the one corpus-scale
    * shuffle; substring expansion is row-local over word TYPES (vocab
    * scale — a 100 TB corpus has ~10⁸ word types, not 10¹³), and the
    * piece aggregate is (vocab × maxPieceLen²)-scale with map-side
    * partial combine. `sequence(1, L)` is guarded by a `filter` on
    * l ≤ length(w) — an unguarded `sequence(1, length(w) − l + 1)`
    * would produce the DESCENDING [1, 0] on short words (the
    * repetitionScores lesson). Integer counts throughout (rule F/I);
    * `substring`/`length` count code points identically in Spark and
    * DuckDB on this corpus (rule S). */
  def unigramSeedPieces(docs: DataFrame, text: Column, maxPieceLen: Int = 4,
                        topK: Int = 512): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be in 1..16, got $maxPieceLen")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    unigramSubstringMass(unigramWordFreqs(docs, text), maxPieceLen)
      .orderBy(col("mass").desc, col("piece"))
      .limit(topK)
  }

  /** The (word, f) frequency table — word TYPES with counts, the form
    * every unigram-LM stage consumes (and production SentencePiece
    * trains on). One corpus pass, map-side combinable. */
  private def unigramWordFreqs(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))

  /** Substring occurrence mass over an aggregated (w, f) table:
    * row-local nested-transform expansion, vocab-scale aggregate. */
  private def unigramSubstringMass(wordFreqs: DataFrame, maxPieceLen: Int): DataFrame =
    wordFreqs
      .select(explode(expr(
        s"flatten(transform(filter(sequence(1, $maxPieceLen), l -> l <= length(w)), " +
          "l -> transform(sequence(1, length(w) - l + 1), " +
          "i -> substring(w, i, l))))")).as("piece"),
              col("f"))
      .groupBy("piece").agg(sum("f").as("mass"))

  /** Fixed-point scale for the EM expectation pass: per-(word, piece)
    * expected counts quantize to `round(c · 2²⁴)` BEFORE the
    * distributed sum, so the aggregate is an exact integer
    * (`decimal(38,0)` — the per-row count × word-frequency product and
    * the corpus sum both stay exact) and the trained model is
    * bit-identical across runs and partitionings — a parallel DOUBLE
    * sum's result depends on reduction order (rule F), which would
    * make the model, its prune set and every downstream token count
    * flap run to run. c ≤ |word| ≤ 2¹⁵ keeps round(c·2²⁴) far inside
    * Long; the ×f product is carried in decimal. Quantization error is
    * ≤ 2⁻²⁵ per (word, piece) — EM is a fixed-point iteration, so this
    * perturbs the trajectory by an amount the monotonicity property
    * test bounds, not the algorithm. */
  private val UnigramFp: Double = (1L << 24).toDouble

  private[graft] def unigramCodePoints(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  private def logAdd(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + math.log1p(math.exp(math.min(a, b) - m)) }

  /** Row-local forward–backward over ONE word's segmentation lattice
    * under piece log-probs: returns (expected count per piece across
    * all segmentations weighted by their probability, log Z). The
    * lattice has |w|+1 nodes and an edge (j → i) per in-vocabulary
    * piece w[j..i), i − j ≤ maxPieceLen; α/β are standard
    * log-space forward/backward sums and the expected count of edge
    * (j, i, p) is exp(α(j) + log p + β(i) − log Z). O(|w| ·
    * maxPieceLen) time, pure function — the per-row kernel of
    * [[unigramLmTrain]]'s distributed E-step. Returns log Z = −∞ when
    * the word cannot be segmented at all (no piece covers some code
    * point). Pinned against exhaustive segmentation enumeration in
    * UnigramLmSpec. */
  private[graft] def unigramForwardBackward(
      word: String, logp: collection.Map[String, Double], maxPieceLen: Int)
      : (Map[String, Double], Double) = {
    val cps = unigramCodePoints(word)
    val n = cps.length
    val NEG = Double.NegativeInfinity
    if (n == 0) return (Map.empty, 0.0)
    def piece(j: Int, i: Int): String = cps.slice(j, i).mkString
    val alpha = Array.fill(n + 1)(NEG); alpha(0) = 0.0
    for (i <- 1 to n; l <- 1 to math.min(maxPieceLen, i)) {
      val j = i - l
      if (alpha(j) != NEG) logp.get(piece(j, i)).foreach { lp =>
        alpha(i) = logAdd(alpha(i), alpha(j) + lp)
      }
    }
    val beta = Array.fill(n + 1)(NEG); beta(n) = 0.0
    for (j <- (n - 1) to 0 by -1; l <- 1 to math.min(maxPieceLen, n - j)) {
      val i = j + l
      if (beta(i) != NEG) logp.get(piece(j, i)).foreach { lp =>
        beta(j) = logAdd(beta(j), lp + beta(i))
      }
    }
    val z = alpha(n)
    if (z == NEG) (Map.empty, NEG)
    else {
      val acc = scala.collection.mutable.HashMap.empty[String, Double]
      for (j <- 0 until n; l <- 1 to math.min(maxPieceLen, n - j)) {
        val i = j + l
        if (alpha(j) != NEG && beta(i) != NEG) logp.get(piece(j, i)).foreach { lp =>
          val c = math.exp(alpha(j) + lp + beta(i) - z)
          acc.update(piece(j, i), acc.getOrElse(piece(j, i), 0.0) + c)
        }
      }
      (acc.toMap, z)
    }
  }

  /** Row-local Viterbi segmentation of ONE word under piece
    * log-probs: the maximum-probability path through the same lattice
    * [[unigramForwardBackward]] sums over. Ties break to the FEWEST
    * tokens, then to the candidate reached first in ascending
    * piece-length order at each node (deterministic — the property
    * UnigramLmSpec pins is score/token-count optimality plus exact
    * reconstruction, not one blessed sequence among equal-probability
    * ties). None when the word cannot be segmented. */
  private[graft] def unigramViterbi(
      word: String, logp: collection.Map[String, Double], maxPieceLen: Int)
      : Option[Seq[String]] = {
    val cps = unigramCodePoints(word)
    val n = cps.length
    if (n == 0) return Some(Nil)
    val NEG = Double.NegativeInfinity
    val best = Array.fill(n + 1)(NEG); best(0) = 0.0
    val nTok = Array.fill(n + 1)(Int.MaxValue); nTok(0) = 0
    val back = Array.fill(n + 1)(-1)
    for (i <- 1 to n; l <- 1 to math.min(maxPieceLen, i)) {
      val j = i - l
      if (best(j) != NEG) logp.get(cps.slice(j, i).mkString).foreach { lp =>
        val s = best(j) + lp
        val t = nTok(j) + 1
        if (s > best(i) || (s == best(i) && t < nTok(i))) {
          best(i) = s; nTok(i) = t; back(i) = j
        }
      }
    }
    if (best(n) == NEG) None
    else {
      var i = n
      val out = scala.collection.mutable.ListBuffer.empty[String]
      while (i > 0) { val j = back(i); out.prepend(cps.slice(j, i).mkString); i = j }
      Some(out.toList)
    }
  }

  /** Unigram-LM tokenizer TRAINING (round 14) — EM over the candidate
    * piece set, then frequency-mass pruning to `targetVocab`, then a
    * final EM polish: the Kudo/SentencePiece algorithm re-expressed in
    * the engine's aggregate shapes. Returns the model as
    * (piece, probability) sorted (prob DESC, piece ASC), probabilities
    * exact ratios of the final EM pass's integer masses.
    *
    * Stages, with their 100 TB shape:
    *  1. word-frequency table — ONE corpus pass ([[unigramWordFreqs]]),
    *     then every later stage runs over word TYPES (vocab scale).
    *  2. seed = top-`seedSize` substrings by occurrence mass UNION all
    *     single-code-point pieces (coverage floor: any word stays
    *     segmentable), initial probs ∝ mass — one vocab-scale
    *     aggregate, one model-scale collect (≤ seedSize + alphabet).
    *  3. `emIters` EM rounds: the E-step is a distributed mapPartitions
    *     over (w, f) rows — per row the O(|w|·maxPieceLen)
    *     [[unigramForwardBackward]] kernel — followed by ONE integer
    *     aggregate (fixed-point counts, [[UnigramFp]]: the model is
    *     bit-stable under any partitioning); the M-step normalizes the
    *     collected model-scale masses on the driver. Zero-mass
    *     multi-char pieces drop; single-code-point pieces floor at one
    *     fixed-point unit (coverage can never regress).
    *  4. prune: keep all single-code-point pieces + the top
    *     (`targetVocab` − alphabet) multi-char pieces by (final-round
    *     mass DESC, piece ASC) — the frequency-mass criterion (simpler
    *     than SentencePiece's likelihood-loss ranking; deterministic
    *     and integer — the trade is stated, not hidden).
    *  5. `emIters` more EM rounds on the pruned vocabulary.
    *
    * Total driver state is O(seedSize + alphabet) — the bpeLearnMerges
    * / ivfTrain model-scalar pattern; the corpus is touched exactly
    * once. Per-round corpus log-likelihood (fixed-point, × word freq)
    * is returned alongside for the EM monotonicity property pinned in
    * UnigramLmSpec. */
  def unigramLmTrain(docs: DataFrame, text: Column, maxPieceLen: Int = 4,
                     seedSize: Int = 512, targetVocab: Int = 256,
                     emIters: Int = 2): UnigramLmModel = {
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be in 1..16, got $maxPieceLen")
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    require(targetVocab >= 1, s"targetVocab must be >= 1, got $targetVocab")
    require(emIters >= 1, s"emIters must be >= 1, got $emIters")
    val spark = docs.sparkSession
    // the (w, f) table feeds the seed aggregate + every EM pass — one
    // temp-parquet round trip instead of 1 + 2·emIters corpus scans
    // (vocab-scale parquet with real stats, the src_tok_counts shape)
    val words = TempTables.shared("unigram_words", unigramWordFreqs(docs, text))()
    // seed: top multi-char substrings by mass + ALL single code points
    val massTable = unigramSubstringMass(words, maxPieceLen)
    val multis = massTable.filter(length(col("piece")) >= 2)
      .orderBy(col("mass").desc, col("piece")).limit(seedSize).collect()
    val singles = massTable.filter(length(col("piece")) === 1).collect()
    val seed = (multis ++ singles).map(r => (r.getString(0), r.getLong(1))).toSeq
    val seedTotal = seed.map(_._2).sum.toDouble
    var model: Map[String, Double] =
      seed.map { case (p, m) => p -> math.log(m / seedTotal) }.toMap
    val singleSet = seed.collect { case (p, _) if unigramCodePoints(p).length == 1 => p }.toSet
    val logLiks = scala.collection.mutable.ListBuffer.empty[BigDecimal]
    var lastMass: Map[String, BigDecimal] = Map.empty
    def emRound(): Unit = {
      val (mass, ll) = unigramEmPass(words, model, maxPieceLen)
      logLiks += ll
      // single-cp floor BEFORE normalization: coverage never regresses
      val floored = mass.map { case (p, m) =>
        p -> (if (singleSet(p) && m <= 0) BigDecimal(1) else m)
      } ++ singleSet.filterNot(mass.contains).map(_ -> BigDecimal(1))
      val kept = floored.filter(_._2 > 0)
      val total = kept.values.sum
      model = kept.map { case (p, m) => p -> math.log((m / total).toDouble) }
      lastMass = kept
    }
    (1 to emIters).foreach(_ => emRound())
    // prune to targetVocab: all single-cp pieces survive, multi-char
    // pieces rank by (mass DESC, piece ASC)
    val keepMultis = lastMass.toSeq
      .filter { case (p, _) => unigramCodePoints(p).length > 1 }
      .sortBy { case (p, m) => (-m, p) }
      .take(math.max(0, targetVocab - singleSet.size))
      .map(_._1).toSet
    model = model.filter { case (p, _) =>
      keepMultis(p) || unigramCodePoints(p).length == 1 }
    (1 to emIters).foreach(_ => emRound())
    val total = lastMass.values.sum
    val pieces = lastMass.toSeq
      .map { case (p, m) => (p, (m / total).toDouble) }
      .sortBy { case (p, prob) => (-prob, p) }
    UnigramLmModel(pieces, maxPieceLen, logLiks.toList)
  }

  /** One distributed E-step: broadcast the model, run the row-local
    * forward–backward kernel per word type, aggregate fixed-point
    * expected counts × word frequency as exact decimals. The
    * log-likelihood rides the same pass under the "" sentinel piece
    * (words are non-empty by construction, so "" cannot collide). */
  private def unigramEmPass(wordFreqs: DataFrame, model: Map[String, Double],
                            maxPieceLen: Int): (Map[String, BigDecimal], BigDecimal) = {
    val spark = wordFreqs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val rows = wordFreqs.select(col("w"), col("f").cast("long"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val m = bc.value
        it.flatMap { case (w, f) =>
          val (counts, z) = unigramForwardBackward(w, m, maxPieceLen)
          if (z == Double.NegativeInfinity) Iterator.empty
          else counts.iterator.map { case (p, c) =>
            (p, math.round(c * UnigramFp), f)
          } ++ Iterator(("", math.round(z * UnigramFp), f))
        }
      }.toDF("piece", "cfp", "f")
    val collected = rows.groupBy("piece")
      .agg(sum(col("cfp").cast("decimal(38,0)") * col("f")).as("mass"))
      .collect()
      .map(r => r.getString(0) -> BigDecimal(r.getDecimal(1)))
    val ll = collected.collectFirst { case ("", m) => m }.getOrElse(BigDecimal(0))
    (collected.filter(_._1.nonEmpty).toMap, ll)
  }

  /** Viterbi ENCODE under a trained unigram model, as a column over a
    * word column — wrapped "(p1)(p2)…" form, the [[bpeEncode]]
    * contract, so [[bpeTokenCount]] applies unchanged. A UDF is the
    * honest tier (the [[bpeEncodeIndexed]] stance): the segmentation
    * is a data-dependent DP no built-in expresses, and the operator is
    * row-local — zero shuffle at any corpus size. Unsegmentable words
    * (a code point outside the model — cannot happen for words seen in
    * training, where single code points always survive) encode NULL
    * loudly rather than silently dropping. */
  def unigramEncode(word: Column, model: UnigramLmModel): Column = {
    val pieces = model.pieces.toMap
    val maxLen = model.maxPieceLen
    udf((w: String) =>
      if (w == null) null
      else unigramViterbi(w, pieces.map { case (k, v) => k -> math.log(v) }, maxLen)
        .map(s => if (s.isEmpty) "" else s.mkString("(", ")(", ")"))
        .orNull).apply(word)
  }

  // ───────────── Logistic-regression quality classifier ─────────────

  /** Distributed logistic-regression TRAINING by full-batch gradient
    * descent (round 14) — the fastText/CCNet-style quality-classifier
    * step of a training-data pipeline, expressed in the engine's
    * matrix-free shape (the [[pcaPowerIteration]] stance): the model
    * is driver state (k + 1 doubles), each iteration is ONE
    * map-side-combinable aggregate over the feature projection, and
    * the corpus is never collected. Features are standardized from a
    * single stats pass ((x − μ)/σ, σ = 0 → 1) so one fixed learning
    * rate serves mixed-scale inputs; the projection itself is
    * materialized once (temp parquet, the snm_sorted shape) so `iters`
    * aggregates re-read a narrow table instead of re-running the
    * feature expressions over the corpus.
    *
    * Determinism (rule F applied to training): per-row gradient and
    * loss contributions quantize to 2⁻²⁴ fixed point BEFORE the
    * distributed sum and aggregate as exact `decimal(38,0)` — a
    * parallel double sum's value depends on reduction order, which
    * would make the weights (and every downstream verdict) flap run to
    * run. The loss uses the overflow-safe form
    * max(z,0) − y·z + log1p(exp(−|z|)). Integer confusion counts at
    * threshold 0.5 ride the same aggregate (no extra pass). Gradient
    * correctness is pinned against finite differences, convergence and
    * determinism in LogisticSpec. */
  def logisticTrain(df: DataFrame, label: Column, features: Seq[Column],
                    iters: Int = 20, lr: Double = 1.0, l2: Double = 0.0)
      : LogisticModel = {
    require(features.nonEmpty && features.size <= 32,
      s"features must be 1..32 columns, got ${features.size}")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0, s"lr must be positive, got $lr")
    require(l2 >= 0, s"l2 must be >= 0, got $l2")
    val k = features.size
    val fp = UnigramFp // 2^24 — the same fixed-point discipline
    val proj = TempTables.shared("logit_features",
      df.select((label.cast("double").as("y") +:
        features.zipWithIndex.map { case (f, i) => f.cast("double").as(s"x$i") }): _*))()
    // one stats pass: n, Σx, Σx² per feature (fixed-point decimals)
    val statAggs = count(lit(1)).as("n") +:
      (0 until k).flatMap { i =>
        Seq(sum(round(col(s"x$i") * fp).cast("decimal(38,0)")).as(s"s$i"),
            sum(round(col(s"x$i") * col(s"x$i") * fp).cast("decimal(38,0)")).as(s"q$i"))
      }
    val st = proj.agg(statAggs.head, statAggs.tail: _*).collect()(0)
    val n = st.getLong(0)
    require(n >= 1, "logisticTrain: empty input")
    val means = (0 until k).map(i => BigDecimal(st.getDecimal(1 + 2 * i)).toDouble / fp / n)
    val stds = (0 until k).map { i =>
      val ex2 = BigDecimal(st.getDecimal(2 + 2 * i)).toDouble / fp / n
      val v = ex2 - means(i) * means(i)
      if (v <= 0) 1.0 else math.sqrt(v)
    }
    var w = Array.fill(k)(0.0)
    var b = 0.0
    val losses = scala.collection.mutable.ListBuffer.empty[Double]
    val trail = scala.collection.mutable.ListBuffer.empty[LogisticIter]
    for (_ <- 1 to iters) {
      val xs = (0 until k).map(i => (col(s"x$i") - lit(means(i))) / lit(stds(i)))
      val z = xs.zipWithIndex.foldLeft(lit(b): Column) { case (acc, (x, i)) =>
        acc + lit(w(i)) * x }
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val lossRow = greatest(z, lit(0.0)) - col("y") * z + log1p(exp(-abs(z)))
      val pred = (p >= 0.5).cast("long")
      val aggs =
        (0 until k).map(i =>
          sum(round((p - col("y")) * xs(i) * fp).cast("decimal(38,0)")).as(s"g$i")) ++
        Seq(sum(round((p - col("y")) * fp).cast("decimal(38,0)")).as("gb"),
            sum(round(lossRow * fp).cast("decimal(38,0)")).as("loss"),
            sum(when(pred === 1 && col("y") === 1.0, 1L).otherwise(0L)).as("tp"),
            sum(when(pred === 1 && col("y") === 0.0, 1L).otherwise(0L)).as("fpos"),
            sum(when(pred === 0 && col("y") === 0.0, 1L).otherwise(0L)).as("tn"),
            sum(when(pred === 0 && col("y") === 1.0, 1L).otherwise(0L)).as("fn"))
      val r = proj.agg(aggs.head, aggs.tail: _*).collect()(0)
      def dec(idx: Int): Double = BigDecimal(r.getDecimal(idx)).toDouble / fp
      val loss = dec(k + 1) / n
      losses += loss
      trail += LogisticIter(loss, r.getLong(k + 2), r.getLong(k + 3),
                            r.getLong(k + 4), r.getLong(k + 5))
      w = Array.tabulate(k)(i => w(i) - lr * (dec(i) / n + l2 * w(i)))
      b = b - lr * dec(k) / n
    }
    LogisticModel(w.toSeq, b, means, stds, losses.toList, trail.toList, n)
  }

  /** The predicted probability column under a trained model — the
    * same standardized-margin expression the trainer iterated, so
    * scoring a new corpus is row-local and zero-shuffle. */
  def logisticPredict(model: LogisticModel, features: Seq[Column]): Column = {
    require(features.size == model.weights.size,
      s"expected ${model.weights.size} features, got ${features.size}")
    val z = features.zipWithIndex.foldLeft(lit(model.bias): Column) {
      case (acc, (f, i)) =>
        acc + lit(model.weights(i)) *
          ((f.cast("double") - lit(model.means(i))) / lit(model.stds(i)))
    }
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Unicode-normalization accounting per group — the
    * canonicalization stage a multilingual pipeline runs BEFORE
    * fingerprinting and dedup: two byte-wise-different spellings of
    * the same canonical text (composed `é` vs `e` + COMBINING ACUTE)
    * defeat exact dedup, span hashing and MinHash alike, so the
    * pipeline must know how much of each source is non-NFC before
    * deciding whether to pay the normalization pass. Per group:
    * doc count, docs NOT in NFC form, and the NET code points NFC
    * removes. chars_saved is a net figure and CAN go negative on
    * corpora containing composition-exclusion singletons — NFC
    * LENGTHENS e.g. U+0958 DEVANAGARI QA to U+0915 + U+093C (review
    * catch: "composition only shrinks" is false in general), so a
    * caller must not treat chars_saved ≥ 0 as an invariant. Uses the
    * native codegen'd [[functions.NfcNormalize]] expression — Spark
    * ships no normalization builtin and a Scala UDF would pay per-row
    * serialization on a corpus scan. Row-local end to end: one scan,
    * one metadata-scale rollup, integers throughout. */
  def normalizationStats(df: DataFrame, group: Column, text: Column): DataFrame = {
    val t = col("__nfc_in")
    val n = col("__nfc_out")
    df.select(group.as("group"), text.as("__nfc_in"))
      .withColumn("__nfc_out", functions.NfcNormalize.nfc(t))
      .groupBy("group")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(t =!= n, lit(1L)).otherwise(lit(0L))).as("n_denorm"),
           sum((length(t) - length(n)).cast("long")).as("chars_saved"))
  }

  /** Gopher-style repetition-quality signals for a whitespace-token
    * text column: (duplicate-token, duplicate-2-gram, duplicate-3-gram)
    * permilles as a struct. Pure per-row computation. A document with
    * fewer than n tokens has no n-gram, so its field is NULL (the
    * `when` guard also prevents `sequence(1, 0)` from producing the
    * descending [1,0] and faulting `slice` on short docs). */
  def repetitionScores(text: Column): Column = {
    val t = split(text, " ")
    def grams(n: Int) = functions.TokenNGrams.ngrams(t, n)
    def dupPermille(arr: Column) =
      floor((size(arr).cast("long") - size(array_distinct(arr))) * 1000 / size(arr))
        .cast("long")
    def guarded(n: Int) = when(size(t) >= n, dupPermille(grams(n)))
    struct(guarded(1).as("dup_tok_permille"),
           guarded(2).as("dup_g2_permille"),
           guarded(3).as("dup_g3_permille"))
  }

  /** Inactivity-gap sessionization for ANY keyed event DataFrame:
    * appends `sessionCol` = 1-based session index per key, where a new
    * session starts when time − previous time > gap (long times, e.g.
    * epoch-µs). The classic lag-gap flag → running flag-sum — one
    * exchange + sort per key partition, reused by both window passes.
    * Pass `tiebreak` columns to pin the within-timestamp order when
    * times can collide (determinism rule O). */
  def sessionize(events: DataFrame, key: Column, time: Column, gap: Long,
                 tiebreak: Seq[Column] = Nil,
                 sessionCol: String = "session_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gap > 0, s"gap must be positive, got $gap")
    val t = time.cast("long")
    val wOrd = Window.partitionBy(key).orderBy((t +: tiebreak).map(_.asc): _*)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val newFlag = when(t - lag(t, 1).over(wOrd) > gap, 1)
      .when(lag(t, 1).over(wOrd).isNull, 1)
      .otherwise(0)
    events.withColumn("__new_s", newFlag)
      .withColumn(sessionCol, sum("__new_s").over(wRun))
      .drop("__new_s")
  }

  /** Ordered-funnel stage per group over ANY event table: how far each
    * group's event sequence progresses through `steps` IN ORDER —
    * stage = length of the longest `steps` PREFIX embedded as a
    * subsequence of the group's type sequence (greedy earliest-match,
    * which is optimal for prefix embedding). The group's events fold
    * to ONE ordered array per group (collect_list is order-free;
    * array_sort on the (orderBy..., type) struct pins it — the
    * `orderBy` tuple must be unique per group, rule O), then a
    * row-local `aggregate` HOF advances a step pointer on EXACT string
    * equality — no LIKE patterns, so step names containing SQL
    * wildcards or each other as substrings stay correct. One
    * groupBy(groupCols) shuffle with map-side partial aggregation;
    * per-group state is that group's events, so scope groups to
    * something bounded (a session, a user-hour) at corpus scale.
    * Returns groupCols' columns + `stage` LONG in [0, steps.size]. */
  def funnelStages(events: DataFrame, groupCols: Seq[Column],
                   eventType: Column, orderBy: Seq[Column],
                   steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(orderBy.nonEmpty, "orderBy must be non-empty (rule O: pin the event order)")
    val seq = transform(
      array_sort(collect_list(struct(orderBy :+ eventType.as("__et"): _*))),
      e => e.getField("__et"))
    val stepsArr = typedlit(steps)
    val stage = aggregate(col("__seq"), lit(0),
      (acc, t) => when(acc < lit(steps.size) && t === element_at(stepsArr, acc + 1),
                       acc + 1).otherwise(acc))
    events.groupBy(groupCols: _*)
      .agg(seq.as("__seq"))
      .withColumn("stage", stage.cast("long"))
      .drop("__seq")
  }

  /** Cohort-retention triangle over ANY event table: users bucketed by
    * the period of their FIRST activity (cohort), distinct actives per
    * (cohort, periods-since) cell. `time` is a LONG in any unit;
    * `periodUnits` is the period length in that unit, and bucketing is
    * true INTEGER division (SQL `div` — epoch-ns exceeds double's
    * exact range, so float math would corrupt buckets; rule T). Scale
    * shape: one (user, period) distinct (partial-aggregated), a
    * min-aggregate per user, one equi-join the planner
    * broadcast/shuffles — no window, no collect. NULL users cannot
    * cohort (the equi-join drops them, SQL convention). Returns
    * (cohort, offset, n_users), all LONG. */
  def retentionTriangle(events: DataFrame, user: Column, time: Column,
                        periodUnits: Long): DataFrame = {
    require(periodUnits > 0, s"periodUnits must be positive, got $periodUnits")
    val uw = events
      .select(user.as("__u"),
              call_function("div", time.cast("long"), lit(periodUnits)).as("__p"))
      .distinct()
    val cohort = uw.groupBy("__u").agg(min("__p").as("__c"))
    uw.join(cohort, "__u")
      .groupBy(col("__c").as("cohort"), (col("__p") - col("__c")).as("offset"))
      .agg(countDistinct(col("__u")).as("n_users"))
  }

  /** Densify a bucketed aggregate over ANY table: re-emit `agg` on the
    * DENSE integer spine [min(bucket), max(bucket)] crossed with the
    * distinct key tuples, filling absent cells from `fill` — the
    * temporal-densification op (a plain groupBy silently omits empty
    * buckets; dashboards, window math and downsampling need the dense
    * grid, zero- or sentinel-filled). The spine derives from a ONE-row
    * min/max aggregate exploded to |buckets| rows (metadata-scale: it
    * grows with the bucket SPAN, not the row count) and the key table
    * is broadcast — callers' key cardinality must be
    * broadcast-small, which is what "per key" reporting means. Input
    * must already be aggregated (one row per (bucket, keys));
    * `fill` maps each remaining value column to its absent-cell
    * default. Rows whose bucket or key is NULL cannot sit on the
    * dense grid and are dropped (the SQL-join convention every
    * NULL-id facade here shares). Returns bucket + keys + filled
    * value columns. */
  def densify(agg: DataFrame, bucket: String, keys: Seq[String],
              fill: Map[String, Column]): DataFrame = {
    val valueCols = agg.columns.filterNot(c => c == bucket || keys.contains(c)).toSeq
    require(agg.columns.contains(bucket), s"bucket column $bucket missing")
    require(keys.forall(agg.columns.contains),
      s"key columns ${keys.mkString(",")} must exist in ${agg.columns.mkString(",")}")
    require(fill.keySet == valueCols.toSet,
      s"fill must cover exactly the value columns ${valueCols.mkString(",")}, got ${fill.keySet.mkString(",")}")
    val spine = agg.agg(min(col(bucket)).as("__lo"), max(col(bucket)).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as(bucket))
    val grid =
      if (keys.isEmpty) spine
      else spine.join(broadcast(agg.select(keys.map(col): _*).distinct()))
    grid.join(agg, bucket +: keys, "left")
      .select((bucket +: keys).map(col) ++
        valueCols.map(c => coalesce(col(c), fill(c)).as(c)): _*)
  }

  /** Forward fill (LOCF) over a bucketed frame: per key tuple, each
    * listed value column replaces NULL with the latest non-NULL value
    * at or before its bucket — the carry-forward companion of
    * [[densify]] (densify with NULL fills, then forwardFill, is the
    * classic observe-and-hold time series). Leading NULLs (nothing
    * observed yet) stay NULL. One PARTITIONED running window per key
    * tuple ordered by bucket: a key's whole history sorts in one task
    * — the bounded-per-entity time-series assumption, which is why
    * `keys` must be non-empty (a deliberately global fill can pass a
    * constant key and own that choice). */
  def forwardFill(df: DataFrame, bucket: String, keys: Seq[String],
                  valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keys.nonEmpty,
      "keys must be non-empty — an unkeyed fill is one global window partition")
    require((bucket +: (keys ++ valueCols)).forall(df.columns.contains),
      s"columns must exist in ${df.columns.mkString(",")}")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(bucket))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(df.columns.toSeq.map { c =>
      if (valueCols.contains(c)) last(col(c), ignoreNulls = true).over(w).as(c)
      else col(c)
    }: _*)
  }

  /** Exponentially-weighted moving average over bucketed series
    * (round 9): per `keys` tuple, the rows ordered by `bucket` form
    * the series and s_1 = x_1, s_t = α·x_t + (1−α)·s_{t−1} — the
    * classic smoother (decay per OBSERVED step; densify first for
    * per-bucket decay over gaps). Returns keys + bucket + `ewma`.
    * `bucket` must be unique per key tuple or the fold order is
    * engine-arbitrary.
    *
    * EWMA is inherently sequential, so the shape exploits the same
    * fact [[densify]] does: the input is a pre-aggregated SERIES
    * (one row per (keys, bucket)), whose per-key length grows with
    * the time span, not the fact count. Each key's series collapses
    * into one array via a map-side-combinable sorted collect, the
    * recurrence runs as a row-local HOF fold (one IEEE multiply-add
    * chain in deterministic order — reproducible on any
    * partitioning), and the result re-explodes. No window, no
    * per-row shuffle; a series too long for one array is a time span
    * measured in millennia of hours. */
  def ewma(df: DataFrame, keys: Seq[String], bucket: String, value: Column,
           alpha: Double): DataFrame = {
    require(keys.nonEmpty,
      "keys must be non-empty — a deliberately global series can pass a constant key")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require((bucket +: keys).forall(df.columns.contains),
      s"columns must exist in ${df.columns.mkString(",")}")
    require(!keys.contains("ewma") && bucket != "ewma",
      "the output column ewma is reserved")
    require(!keys.exists(k => k.startsWith("__") || k == "o"),
      "key names starting with __ (and the working name o) are reserved")
    // null observations are SKIPPED (the SQL aggregate convention) —
    // folding a null x_t would null s_t and silently truncate the
    // whole tail of the series
    val series = df
      .select(keys.map(col) :+ col(bucket).as("__o") :+ value.cast("double").as("__x"): _*)
      .filter(col("__o").isNotNull && col("__x").isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__o").as("o"), col("__x").as("x"))))
        .as("__hx"))
    // zero = slice(..., 1, 0): an EMPTY array of the fold's element
    // type inferred from the input — no hand-written cast to keep in
    // sync with the bucket column's type
    val folded = series.withColumn("__sm", expr(
      s"""aggregate(__hx,
         |  slice(transform(__hx, e -> named_struct('o', e.o, 's', e.x)), 1, 0),
         |  (acc, e) -> array_append(acc, named_struct('o', e.o, 's',
         |      case when size(acc) = 0 then e.x
         |           else $alpha * e.x + (1 - $alpha) * element_at(acc, -1).s end)))""".stripMargin))
    folded
      .select(keys.map(col) :+ explode(col("__sm")).as("__e"): _*)
      .select(keys.map(col) :+ col("__e.o").as(bucket) :+ col("__e.s").as("ewma"): _*)
  }

  /** SCD-2 intervalization of ANY change-log DataFrame: per `keyCols`
    * tuple ordered by (`time`, `tieBreak`...), each change row becomes
    * a dimension version valid from its own `time` (inclusive) until
    * the NEXT change's `time` (exclusive) — appended as `valid_from` /
    * `valid_to` / `is_current` (1 on the open latest version, whose
    * `valid_to` is NULL). The slowly-changing-dimension builder every
    * warehouse load needs when the upstream ships events, not
    * snapshots. One PARTITIONED lead() window per key — a key's
    * history sorts in one task (the bounded-per-entity assumption;
    * same posture as [[forwardFill]]), keys spread across the
    * cluster. `tieBreak` must make the order total or same-instant
    * changes get an engine-arbitrary version order. The output names
    * valid_from / valid_to / is_current are reserved (loud failure on
    * collision, not silent overwrite). */
  def scd2Intervals(changes: DataFrame, keyCols: Seq[Column], time: Column,
                    tieBreak: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val out = Seq("valid_from", "valid_to", "is_current")
    require(!changes.columns.exists(out.contains),
      s"output columns ${out.mkString(", ")} are reserved — they would " +
        "silently overwrite the caller's columns of the same name")
    val w = Window.partitionBy(keyCols: _*)
      .orderBy((time +: tieBreak).map(_.asc): _*)
    changes
      .withColumn("valid_from", time)
      .withColumn("valid_to", lead(time, 1).over(w))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
  }

  /** First-order Markov transition matrix over per-entity state
    * sequences: for each entity (`partitionBy`), order its rows by
    * `orderBy` (must be a TOTAL order or the chain is
    * engine-arbitrary), read `state` as the chain, and count every
    * (src → dst) step across all entities. Output: (src, dst, n,
    * p_permille) where p_permille = floor(1000·n / Σ_dst n) — the
    * row-normalized transition probability in exact integer form
    * (`div` on non-negative longs; no float ever rounded). Each
    * entity's first row has no predecessor and contributes no step.
    *
    * Scale shape: ONE fact shuffle (the per-entity lag window — an
    * entity's history sorts in one task, the bounded-per-entity
    * posture of [[scd2Intervals]]), then a partial+final count to the
    * |states|² transition table, which is metadata-scale — the
    * normalizing window runs there, not on facts. */
  def transitionMatrix(df: DataFrame, partitionBy: Seq[Column],
                       orderBy: Seq[Column], state: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(partitionBy.nonEmpty, "partitionBy must be non-empty")
    require(orderBy.nonEmpty, "orderBy must be non-empty")
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy.map(_.asc): _*)
    df.select(lag(state, 1).over(w).as("src"), state.as("dst"))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .withColumn("tot", sum("n").over(Window.partitionBy("src")))
      .withColumn("p_permille", expr("n * 1000 div tot"))
      .drop("tot")
  }

  /** Per-group z-score outliers of ANY DataFrame: rows whose `value`
    * deviates from its group's mean by more than `threshold` sample
    * standard deviations, with the score appended as `z`. Two-pass
    * shape built for scale: one partial+final aggregate computes each
    * group's (mean, stddev) — output is |groups| rows, broadcast back
    * — then one broadcast equi-join scores every row locally; no
    * window, no second shuffle of the fact side. Groups with stddev
    * NULL/0 (fewer than 2 rows, or constant) emit no outliers: a
    * deviation cannot be scored against a degenerate spread. The
    * output name z (and working names __mean / __sd) are reserved —
    * loud failure on collision, not silent overwrite. */
  def zscoreOutliers(df: DataFrame, groupCols: Seq[String], value: Column,
                     threshold: Double): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(threshold > 0, s"threshold must be positive, got $threshold")
    require(!df.columns.exists(c => c == "__mean" || c == "__sd" || c == "z"),
      "column names __mean, __sd and the z output column are reserved — " +
        "a caller column named z would be silently overwritten")
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(avg(value).as("__mean"), stddev_samp(value).as("__sd"))
    df.join(broadcast(stats), groupCols)
      .withColumn("z", (value - col("__mean")) / col("__sd"))
      .filter(col("__sd") > 0 && abs(col("z")) > threshold)
      .drop("__mean", "__sd")
  }

  /** Welch's unequal-variance t-test between every pair of groups
    * (round 9) — the A/B-test primitive: for each unordered group
    * pair (a < b by group value), the t statistic
    * (m_a − m_b) / √(v_a/n_a + v_b/n_b) and the Welch–Satterthwaite
    * degrees of freedom. Output: (group_a, group_b, n_a, n_b, t,
    * dof), unrounded doubles — callers round per their precision
    * contract. Pairs where either group has n < 2, or whose pooled
    * standard error is 0 (both sides constant), are dropped: the
    * statistic is undefined there, not zero.
    *
    * Scale shape: ONE partial+final aggregate folds the fact table
    * to |groups| rows of (n, mean, var_samp) sufficient statistics;
    * the pairwise formula runs on the self-joined |groups|² table,
    * which is metadata-scale. The fact side is never shuffled twice
    * and never joined. */
  def welchTTest(df: DataFrame, group: Column, value: Column): DataFrame = {
    val stats = df.groupBy(group.as("g"))
      .agg(count(value).as("n"), avg(value).as("m"), var_samp(value).as("v"))
    val a = stats.select(col("g").as("group_a"), col("n").as("n_a"),
                         col("m").as("m_a"), col("v").as("v_a"))
    val b = stats.select(col("g").as("group_b"), col("n").as("n_b"),
                         col("m").as("m_b"), col("v").as("v_b"))
    a.join(b, col("group_a") < col("group_b"))
      .filter(col("n_a") >= 2 && col("n_b") >= 2)
      .withColumn("__se2", col("v_a") / col("n_a") + col("v_b") / col("n_b"))
      .filter(col("__se2") > 0)
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        ((col("m_a") - col("m_b")) / sqrt(col("__se2"))).as("t"),
        (col("__se2") * col("__se2") /
          ((col("v_a") / col("n_a")) * (col("v_a") / col("n_a")) / (col("n_a") - 1) +
           (col("v_b") / col("n_b")) * (col("v_b") / col("n_b")) / (col("n_b") - 1)))
          .as("dof"))
  }

  /** Pearson χ² test of independence between two categorical columns
    * (round 9) — [[welchTTest]]'s categorical sibling, the
    * segmentation sanity check (is event mix independent of weekday?).
    * Output: ONE row (chisq, dof, n), unrounded; callers round.
    * χ² = Σ_cells (O−E)²/E over the DENSE contingency grid — absent
    * cells carry O = 0 but E > 0 and must contribute, so the grid is
    * the row-totals × column-totals cross, not just observed cells.
    * dof = (|a|−1)(|b|−1). E is computed double-first
    * (CAST(ra)·cb/n) so row·column total products cannot overflow at
    * any scale.
    *
    * Scale shape: ONE partial+final fact aggregate to the observed
    * |a|·|b| cell table; totals and the dense grid are metadata-scale
    * broadcasts; the fact side is never rescanned. */
  def chiSquare(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.as("a"), b.as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy("a").agg(sum("o").as("ra"))
    val colT = cells.groupBy("b").agg(sum("o").as("cb"))
    val nT = cells.agg(sum("o").as("n"))
    rowT.crossJoin(broadcast(colT)).crossJoin(broadcast(nT))
      .join(cells, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("o"), lit(0L)).as("o"),
              (col("ra").cast("double") * col("cb") / col("n")).as("e"))
      .agg(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")).as("chisq"),
           ((countDistinct("a") - 1) * (countDistinct("b") - 1)).as("dof"),
           sum("o").cast("long").as("n"))
  }

  /** Gini coefficient of a value distribution (round 9) — the
    * inequality/concentration metric (how skewed is revenue across
    * customers, tokens across documents, load across keys): ONE row
    * (n, gini) with G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over the values
    * in ascending order, i = 1..n. `tie` must be unique (it totalizes
    * the order among equal values — G is invariant to which, since
    * equal values commute in the sum). Values must be non-negative
    * for G's [0, 1) reading. Unrounded; callers round.
    *
    * Scale shape: the ascending index comes from [[globalRankDesc]]'s
    * two-pass distributed rank (i = n+1−rank_desc) — NO
    * single-partition window at any corpus size; the Σ i·x and Σx
    * folds cast to double BEFORE summing (Spark sum(long) wraps and
    * DuckDB widens to HUGEINT — double-first is the one form both
    * engines agree on, exact while ever i·x < 2^53 per term). */
  def gini(df: DataFrame, value: Column, tie: Column): DataFrame = {
    val ranked = globalRankDesc(
      df.select(value.as("__v"), tie.as("__t")), col("__v"), col("__t"))
    // count the INPUT, not the ranked output: globalRankDesc is
    // row-preserving, and counting its output would re-execute the
    // whole two-pass rank pipeline just for n
    val nTot = df.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(nTot))
      .select(col("key"), (col("__n") + 1L - col("rank")).cast("double").as("i"),
              col("__n"))
      .agg(max("__n").as("n"),
           (lit(2.0) * sum(col("i") * col("key")) /
              (max("__n") * sum(col("key"))) -
            (max("__n") + lit(1.0)) / max("__n")).as("gini"))
  }

  /** Winsorized (robust) mean per group over ANY (groups, value)
    * DataFrame: values clamped at the group's EXACT interpolated
    * [pLo, pHi] percentiles before averaging, plus how many rows each
    * bound clamped. Output: groupCols, wins_mean (unrounded double —
    * callers round per their precision contract), n_lo, n_hi.
    *
    * ONE fact shuffle: the percentile bounds come from an unbounded
    * window over the SAME hash partitioning the final aggregate
    * needs, so the planner runs Exchange → Sort → Window →
    * HashAggregate with no second exchange (plan-pinned in
    * RelationalSpec). The alternative — a separate percentile
    * aggregate broadcast-joined back — would scan-shuffle the fact
    * side twice. Exact percentiles sort each group once inside the
    * window; for sketch-grade bounds at extreme group sizes swap in
    * approx_percentile and keep the same shape. */
  def winsorizedMean(df: DataFrame, groupCols: Seq[String], value: Column,
                     pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(0 <= pLo && pLo <= pHi && pHi <= 1,
      s"need 0 <= pLo <= pHi <= 1, got ($pLo, $pHi)")
    // fresh projection: only groupCols and the fixed working name
    // survive, so caller columns cannot collide
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupCols.map(col) :+ value.cast("double").as("wz_v"): _*)
    val w = Window.partitionBy(groupCols.map(col): _*)
    base
      .withColumn("wz_lo", expr(s"percentile(wz_v, $pLo)").over(w))
      .withColumn("wz_hi", expr(s"percentile(wz_v, $pHi)").over(w))
      .groupBy(groupCols.map(col): _*)
      .agg(avg(least(greatest(col("wz_v"), col("wz_lo")), col("wz_hi"))).as("wins_mean"),
           sum(when(col("wz_v") < col("wz_lo"), 1L).otherwise(0L)).as("n_lo"),
           sum(when(col("wz_v") > col("wz_hi"), 1L).otherwise(0L)).as("n_hi"))
  }

  /** Interval join of ANY two event tables: every (left, right) pair
    * with |leftTime − rightTime| ≤ radius (long times, e.g. epoch-µs).
    * The inequality join is decomposed into an EQUI-join on
    * radius-sized time cells (the right side exploded to its 3
    * adjacent cells — each qualifying pair meets in exactly ONE cell,
    * so no dedup) plus the exact residual filter: linear in events per
    * cell, never a nested loop. Cell ids use integer `div` — epoch-µs
    * exceeds double's exact range, so float division would corrupt
    * bucketing (SURVEY §7.4 rule T). Output = left columns followed by
    * right columns (callers provide collision-free names). */
  def intervalJoin(left: DataFrame, leftTime: Column,
                   right: DataFrame, rightTime: Column,
                   radius: Long): DataFrame = {
    require(radius > 0, s"radius must be positive, got $radius")
    val outCols = left.columns.map(col) ++ right.columns.map(col)
    val l = left.withColumn("__lt", leftTime.cast("long"))
      .withColumn("__bucket", expr(s"__lt div $radius"))
    val r = right.withColumn("__rt", rightTime.cast("long"))
      .withColumn("__off", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__bucket", expr(s"__rt div $radius") + col("__off"))
      .drop("__off")
    l.join(r, "__bucket")
      .filter(abs(col("__lt") - col("__rt")) <= radius)
      .select(outCols: _*)
  }

  /** Winnowing document fingerprints (the MOSS scheme) for ANY
    * (id, text) DataFrame: `shingle`-token shingles → xxhash64 per
    * shingle → minimum hash of every `window`-shingle window →
    * distinct fingerprint set. Returns (doc_id, n_shingles,
    * n_fingerprints, min_fp); docs too short for one full window are
    * dropped. Pure per-row higher-order functions — embarrassingly
    * parallel at any corpus size. */
  def winnowingFingerprints(docs: DataFrame, id: Column, text: Column,
                            shingle: Int = 3, window: Int = 4): DataFrame = {
    require(shingle >= 1 && window >= 1, "shingle and window must be >= 1")
    val t = split(text, " ")
    val shingles = transform(functions.TokenNGrams.ngrams(t, shingle), s => xxhash64(s))
    val fps = transform(sequence(lit(1), size(col("hashes")) - (window - 1)),
      i => array_min(slice(col("hashes"), i, lit(window))))
    docs
      .filter(size(t) >= shingle + window - 1) // ≥ 1 full winnowing window
      .select(id.cast("long").as("doc_id"), shingles.as("hashes"))
      .select(col("doc_id"), size(col("hashes")).as("n_shingles"),
              array_distinct(fps).as("fp"))
      .select(col("doc_id"), col("n_shingles"),
              size(col("fp")).as("n_fingerprints"),
              array_min(col("fp")).as("min_fp"))
  }

  /** Top-k terms per group by summed TF·IDF over ANY (group, text)
    * DataFrame: idf = ln(N/df) is constant per term, so the score is
    * exactly (Σ tf)·idf — an integer times one double, sidestepping
    * float-summation order. Returns (group, term, score, rn) with
    * ranking on the ROUNDED score + term tiebreak. One tokenize
    * DEFINITION feeds both TF and DF, but (as with [[languageId]]) the
    * consumers are separate subtrees executed per use — at 100 TB,
    * materialize the per-doc term counts once upstream. The DF table
    * and doc count broadcast. */
  def tfidfTopTerms(docs: DataFrame, id: Column, group: Column, text: Column,
                    k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokC = docs.select(id.as("doc_id"), group.as("grp"),
        explode(split(text, " ")).as("term"))
      .groupBy("doc_id", "grp", "term").agg(count(lit(1)).as("cnt"))
    val tf = tokC.groupBy("grp", "term").agg(sum("cnt").as("tot_tf"))
    val df = tokC.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy("grp").orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .select(col("grp"), col("term"),
              round(col("tot_tf").cast("double") * log(col("n_docs") / col("df")), 4).as("score"))
      .select(col("grp"), col("term"), col("score"), row_number().over(w).as("rn"))
      .filter(col("rn") <= k)
  }

  /** EXACT heavy hitters over ANY item column via the two-pass
    * sketch-then-recount pattern: every item whose exact count
    * exceeds n/(k+1) (n = non-null items), with its exact count —
    * deterministic output, despite a sketch inside.
    *
    * Pass 1 runs the [[FreqItems]] Misra–Gries sketch AND the total
    * item count in ONE global aggregate over ONE scan: O(k) state per
    * partial buffer, a one-row result — never a data-scale collect.
    * The MG merge bound guarantees every true heavy hitter survives
    * in the sketch (containment is deterministic even though the
    * estimates are merge-order-dependent). Pass 2 recounts ONLY the
    * ≤ k candidates exactly: the candidate list — each candidate
    * carrying n as a rider column, so no second count scan and no
    * second broadcast exists anywhere — broadcasts against the data,
    * the inner join keeps candidate rows, map-side combine collapses
    * them to ≤ k rows per partition before the shuffle, and the
    * integer threshold cnt·(k+1) > n filters to the true heavy
    * hitters. Two linear scans, two jobs, O(k) everything else — the
    * shape that holds at 100 TB, where a single groupBy over a hot
    * vocabulary would carry the full distinct-item set through the
    * exchange. (Before round 16 the total was a separate aggregate,
    * i.e. a third full scan and a third driver job — the two-rounds-
    * running BENCH excursion class the round-15 verdict's #5 names:
    * multi-job queries are what the driver's contention band
    * amplifies.) */
  def heavyHitters(rows: DataFrame, item: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val items = rows.select(item.cast("string").as("item")).filter(col("item").isNotNull)
    val sketch = udaf(FreqItems.agg(k))
    val cand = items.agg(sketch(col("item")).as("sk"), count(lit(1)).as("n"))
      .select(explode(map_keys(col("sk"))).as("item"), col("n"))
    items.join(broadcast(cand), Seq("item"))
      .groupBy("item").agg(count(lit(1)).as("cnt"), min("n").as("n"))
      .filter(col("cnt") * (k + 1) > col("n"))
      .select(col("item"), col("cnt"))
  }

  /** Shannon entropy (nats) of an item distribution per group over
    * ANY (groups, item) DataFrame — the corpus-diversity metric a
    * data-mixture dashboard tracks (a source whose token entropy
    * collapses is boilerplate/templated). Output: groupCols, n_items
    * (non-null items), n_distinct, entropy — UNROUNDED double;
    * callers round per their precision contract.
    *
    * Identity: H = ln(n) − (Σ c·ln c)/n over the per-item counts c,
    * so the whole query is TWO cascaded hash aggregates, both
    * partial+final combined — the (group, item) count shuffle is
    * vocabulary-scale, the group rollup is |groups|-scale, and
    * nothing ever materializes probabilities row-by-row. */
  def groupEntropy(df: DataFrame, groupCols: Seq[String], item: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val counts = df.select(groupCols.map(col) :+ item.as("ge_item"): _*)
      .filter(col("ge_item").isNotNull)
      .groupBy(groupCols.map(col) :+ col("ge_item"): _*)
      .agg(count(lit(1)).as("ge_cnt"))
    counts.groupBy(groupCols.map(col): _*)
      .agg(sum("ge_cnt").as("n_items"),
           count(lit(1)).as("n_distinct"),
           (log(sum("ge_cnt")) -
             sum(col("ge_cnt") * log(col("ge_cnt"))) / sum("ge_cnt")).as("entropy"))
  }

  /** BM25 relevance scoring of every document against a fixed term
    * list (round 9) — the retrieval-ranking canon (Robertson–Spärck
    * Jones): score = Σ_t idf(t)·tf_t·(k1+1) / (tf_t + k1·(1−b+b·len/avgdl))
    * with idf(t) = ln(1 + (N−df_t+0.5)/(df_t+0.5)). Returns
    * (doc_id, score), UNROUNDED; callers round and cut.
    *
    * Determinism by construction: every input (tf, df, len, N, Σlen)
    * is an exact integer and the score is ONE fixed expression tree —
    * per-term components are added in the terms' declared order, not
    * by a float aggregate whose fold order varies — so the value is
    * bit-identical on any engine/partitioning (the collocations
    * rank-key discipline, applied to a whole scoring function).
    *
    * Scale shape: per-term tf is a row-local array filter on the one
    * tokenize; corpus stats (N, Σlen, per-term df) fold in ONE
    * 1-row partial+final aggregate broadcast back; scoring is
    * row-local, so `bm25(...).orderBy(desc).limit(k)` plans a
    * TakeOrderedAndProject — one scan, no shuffle of facts. The
    * fixed-term design is the point: a free-text query binds terms at
    * plan time (≤ 16; an open-vocabulary scorer is [[tfidfVectors]]'
    * join-shaped problem instead). */
  def bm25(docs: DataFrame, id: Column, text: Column, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16,
      s"terms must be 1..16 fixed tokens, got ${terms.size}")
    require(terms.forall(t =>
        t.nonEmpty && !t.exists(c => c == '\'' || c == '\\' || c.isWhitespace)),
      "terms must be plain single tokens (no quotes, backslashes or whitespace — " +
        "they interpolate into a SQL string literal)")
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0 and b in [0,1], got ($k1, $b)")
    val withTf = docs.select(id.as("doc_id"), split(text, " ").as("__tk"))
      .select(col("doc_id") +: expr("cast(size(__tk) as bigint)").as("len") +:
        terms.indices.map(i =>
          expr(s"cast(size(filter(__tk, x -> x = '${terms(i)}')) as bigint)")
            .as(s"tf_$i")): _*)
    val aggs = count(lit(1)).as("n") +: sum("len").as("sl") +:
      terms.indices.map(i => sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val score = terms.indices.map { i =>
      s"ln(1 + (n - df_$i + 0.5) / (df_$i + 0.5)) * (tf_$i * ($k1 + 1)) / " +
        s"(tf_$i + $k1 * (1 - $b + $b * len / (cast(sl as double) / n)))"
    }.mkString(" + ")
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(score).as("score"))
  }

  /** Pairwise Kullback–Leibler divergence between per-group item
    * distributions over ANY (group, item) DataFrame (round 9) — the
    * drift/contrast metric between corpus slices ([[groupEntropy]]'s
    * two-sample sibling): KL(a‖b) = Σ_w p_a(w)·ln(p_a(w)/p_b(w))
    * with add-one smoothing over the shared vocabulary,
    * p_g(w) = (c_g(w)+1)/(n_g+|V|), so q > 0 everywhere and the sum
    * is finite. Output: one row per ORDERED pair (group_a ≠ group_b
    * — KL is asymmetric), kl UNROUNDED; callers round.
    *
    * Scale shape: ONE vocabulary-scale (group, item) count shuffle,
    * then everything lives on the |V|·|groups| smoothed grid — the
    * dense grid is the |V|-bounded object, built like [[densify]]'s
    * spine (per-group totals × distinct-item list, both broadcast);
    * the pair sum is a grid self-join on item, |V|·|groups|² work.
    * An unbounded open vocabulary at 100 TB gets the
    * [[tfidfVectors]] treatment first — cap to the top-K
    * document-frequency items and smooth over that closed V. */
  def klDivergences(df: DataFrame, group: Column, item: Column): DataFrame = {
    val counts = df.select(group.as("g"), item.as("w"))
      .filter(col("g").isNotNull && col("w").isNotNull)
      .groupBy("g", "w").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("g").agg(sum("c").as("n"))
    val vocab = counts.select("w").distinct()
    val nv = vocab.agg(count(lit(1)).as("nv"))
    val grid = totals.crossJoin(broadcast(vocab))
      .join(counts, Seq("g", "w"), "left")
      .crossJoin(broadcast(nv))
      .select(col("g"), col("w"),
        ((coalesce(col("c"), lit(0L)) + lit(1.0)) / (col("n") + col("nv"))).as("p"))
    val a = grid.select(col("g").as("group_a"), col("w"), col("p").as("p_a"))
    val b = grid.select(col("g").as("group_b"), col("w"), col("p").as("p_b"))
    a.join(b, Seq("w")).filter(col("group_a") =!= col("group_b"))
      .groupBy("group_a", "group_b")
      .agg(sum(col("p_a") * log(col("p_a") / col("p_b"))).as("kl"))
  }

  /** EXACT dense global rank 1..n of ANY (key, tie) pair under
    * (key DESC, tie ASC) total order, NULL keys last — WITHOUT a
    * single-partition window: the [[operators.RangeScan]] two-pass
    * scheme over `buckets` (≥ 2) range buckets. Output: (key double,
    * tie, rank long); `tie` must be unique per key for the order (hence
    * the rank) to be total. */
  def globalRankDesc(df: DataFrame, key: Column, tie: Column,
                     buckets: Int = 32): DataFrame =
    rankDesc(df.select(key.cast("double").as("key"), tie.as("tie")), Nil, buckets)

  /** [[globalRankDesc]] PER GROUP: exact dense rank 1..n_g of (key,
    * tie) under (key DESC, tie ASC), NULL keys last, within each
    * `group`; a NULL group is ranked as one group. A hot group degrades
    * to `buckets` window partitions, never one — the per-lang/per-domain
    * rank a stratified pipeline stage needs (CCNet buckets per
    * language, per-domain quality tiers). `group` must be
    * METADATA-SCALE (see [[operators.RangeScan]]); `tie` must be unique
    * within a group for the order to be total. Output: (group, key
    * double, tie, rank long). */
  def groupedRankDesc(df: DataFrame, group: Column, key: Column,
                      tie: Column, buckets: Int = 32): DataFrame =
    rankDesc(df.select(group.as("group"), key.cast("double").as("key"), tie.as("tie")),
             Seq("group"), buckets)

  private def rankDesc(base: DataFrame, groups: Seq[String], buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((groups :+ "__bucket").map(col): _*)
      .orderBy(col("key").desc, col("tie").asc)
    operators.RangeScan(base, groups, col("key"), buckets, descending = true,
                        count(lit(1)), lit(0L))(_ + _)
      .select(groups.map(col) ++ Seq(col("key"), col("tie"),
              (col("__prefix") + row_number().over(w)).as("rank")): _*)
  }

  /** Exact SUBSTRING-level (span) cross-document dedup accounting —
    * the chunk-hash flavor of "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al. 2022): the token stream of
    * each document is cut into DISJOINT `spanTokens`-token spans
    * (trailing partial span dropped), a span is duplicated iff its
    * exact text occurs in ≥ 2 DISTINCT documents (intra-doc repetition
    * is [[repetitionScores]]' job, not this one's), and each document
    * reports how much of it is covered by duplicated spans. The
    * document-level dedup family ([[nearDupPairsNgram]] etc.) misses
    * exactly this case — a boilerplate paragraph embedded in otherwise
    * distinct pages — which is why substring dedup is its own pipeline
    * stage.
    *
    * `stride` trades cost for alignment sensitivity: the default
    * (stride = spanTokens) cuts DISJOINT spans — ~n/span rows/doc,
    * but a duplicated region only registers when both docs cut it at
    * the same offsets; stride = 1 slides the window one token at a
    * time — EVERY duplicated `spanTokens`-token substring registers
    * at every alignment (the exact substring-dedup semantics of the
    * suffix-array approach), for ~n rows/doc. Both are linear; the
    * denominators (n_spans) follow the chosen stride.
    *
    * `winnowWindow` (round 16 — the round-15 verdict's #4, promoting
    * the [[winnowingFingerprints]] scheme into the span-dedup
    * keyspace) is the third point on that trade: WINNOWING
    * (Schleimer–Wilkerson–Aiken) selects, from every window of
    * `winnowWindow` consecutive stride-1 candidate spans, the one
    * with the smallest xxhash64 (rightmost on ties — robust
    * winnowing), for ~2·n/(w+1) expected rows/doc. Because selection
    * follows CONTENT, not position, a single-token insertion shifts
    * which offsets are cut but not which spans survive away from the
    * edit — the duplicated region still registers, where a fixed
    * stride only re-aligns at 1-in-stride offsets (the round-15
    * verdict's stated robustness gap) — and every `winnowWindow`
    * consecutive candidates contribute ≥ 1 selected span (the
    * winnowing coverage guarantee), so no gap longer than
    * w + spanTokens − 1 tokens goes unkeyed. winnowWindow = 1
    * degenerates to stride = 1 exactly (GraftSpec pins the
    * equality); mutually exclusive with an explicit `stride`.
    *
    * Output: (id, n_spans, dup_spans, dup_permille) per document with
    * ≥ 1 full span, `dup_permille` = 1000·dup div n (pure INTEGER
    * floor-division — rule F; a double divide inside floor() can
    * cross the boundary once the numerator nears 2^53). Scale shape:
    * the span explode is row-local and LINEAR; the duplicate decision
    * is ONE map-side-combinable groupBy keyed on [[spanHash]] — a
    * 128-bit hash pair computed row-locally, so the shuffle carries
    * 16 bytes per span instead of `spanTokens` tokens of text (the
    * classic shuffle-on-content-hash dedup join; at ~10¹³ spans a
    * single 64-bit key would see birthday collisions, the pair makes
    * them negligible, and a paranoid pipeline can re-verify survivors
    * against text in a second pass); the mark-back is an equi-join
    * against the (typically tiny, planner-broadcastable) duplicated
    * span set; the per-doc rollup re-shuffles on the doc id. Never
    * all-pairs, no driver state. */
  def duplicatedSpanStats(docs: DataFrame, id: Column, text: Column,
                          spanTokens: Int = 16,
                          stride: Int = 0,
                          winnowWindow: Int = 0): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(winnowWindow >= 0,
      s"winnowWindow must be >= 0 (0 = fixed stride), got $winnowWindow")
    require(winnowWindow == 0 || stride == 0,
      s"winnowWindow and stride are mutually exclusive: winnowing selects " +
        s"among stride-1 candidates by content, got stride=$stride, winnowWindow=$winnowWindow")
    val st = if (stride == 0) spanTokens else stride
    require(st >= 1, s"stride must be >= 1 (or 0 = spanTokens), got $stride")
    val spans =
      if (winnowWindow > 0) winnowedSpans(docs, id, text, spanTokens, winnowWindow)
      else hashedSpans(docs, id, text, spanTokens, st)
    val dup = spans.groupBy("h1", "h2")
      .agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h1"), col("h2"), lit(1).as("is_dup"))
    spans.join(dup, Seq("h1", "h2"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans"),
           count(col("is_dup")).as("dup_spans"))
      .select(col("id"), col("n_spans"), col("dup_spans"),
              expr("dup_spans * 1000L div n_spans").as("dup_permille"))
  }

  /** The 128-bit span shuffle key shared by [[duplicatedSpanStats]],
    * [[spanContamination]] and PipelineOps.q_span_drop — ONE
    * definition so the accounting, decontamination and removal stages
    * group by the identical key. Two independent xxhash64 lanes: the
    * salt lit sits FIRST in the second lane so it re-seeds the hash
    * (`xxhash64(span, salt)` would chain — h2 would be a pure
    * function of h1 and add zero collision resistance). Row-local,
    * codegen'd; 16 bytes shuffle instead of span text. */
  def spanHash(span: Column): Seq[Column] =
    Seq(xxhash64(span).as("h1"), xxhash64(lit(1L), span).as("h2"))

  /** The one cut-and-hash stage every span operator starts from:
    * (id, h1, h2) — one row per `spanTokens`-token span at the given
    * stride, text hashed away row-locally before anything shuffles. */
  private def hashedSpans(docs: DataFrame, id: Column, text: Column,
                          spanTokens: Int, stride: Int): DataFrame = {
    val t = split(text, " ")
    docs.select(id.as("id"), t.as("t"))
      .filter(size(col("t")) >= spanTokens)
      .select(col("id"),
              explode(tokenSpans(col("t"), spanTokens, stride)).as("span"))
      .select(col("id") +: spanHash(col("span")): _*)
  }

  /** [[hashedSpans]]' winnowing sibling (round 16): cut EVERY
    * stride-1 candidate span, hash each with xxhash64, and per
    * window of `window` consecutive candidate positions keep the
    * RIGHTMOST-minimum-hash position (robust winnowing,
    * Schleimer–Wilkerson–Aiken; the [[winnowingFingerprints]] scheme,
    * here keeping the span itself so the dedup groupBy gets the full
    * 128-bit [[spanHash]] key). Selection is pure row-local
    * higher-order-function arithmetic — O(tokens · window) per doc,
    * nothing shuffles but the selected spans' 16-byte keys. Windows
    * run j = 0 .. max(m−w, 0) over m candidates (a doc shorter than
    * one window is one clamped window), positions dedupe before the
    * explode. */
  private def winnowedSpans(docs: DataFrame, id: Column, text: Column,
                            spanTokens: Int, window: Int): DataFrame = {
    val t = split(text, " ")
    docs.select(id.as("id"), t.as("t"))
      .filter(size(col("t")) >= spanTokens)
      .select(col("id"), tokenSpans(col("t"), spanTokens, 1).as("spans"))
      .select(col("id"), col("spans"),
              transform(col("spans"), sp => xxhash64(sp)).as("hs"))
      .select(col("id"), col("spans"),
        array_distinct(transform(
          sequence(lit(0), greatest(size(col("hs")) - window, lit(0))),
          j => aggregate(
            sequence(j, least(j + (window - 1), size(col("hs")) - 1)),
            struct(lit(-1).cast("int").as("p"), lit(Long.MaxValue).as("v")),
            (acc, i) =>
              when(element_at(col("hs"), i + 1) <= acc.getField("v"),
                   struct(i.as("p"), element_at(col("hs"), i + 1).as("v")))
                .otherwise(acc))
            .getField("p"))).as("sel"))
      .select(col("id"),
              explode(transform(col("sel"),
                p => element_at(col("spans"), p + 1))).as("span"))
      .select(col("id") +: spanHash(col("span")): _*)
  }

  /** INCREMENTAL substring-dedup accounting — the batch-vs-corpus
    * face of [[duplicatedSpanStats]] (what [[nearDupPairsNgramAgainst]]
    * is to the pair family): for each NEW-batch document, how much of
    * it is covered by `spanTokens`-token spans ALREADY present in the
    * standing corpus — the "how much of this crawl is actually new
    * text" measure an ingest pipeline computes per batch. Same output
    * contract as the self form: (id, n_spans, dup_spans, dup_permille
    * — integer floor-div) per batch doc with ≥ 1 full span.
    *
    * Scale shape: the corpus side collapses to its DISTINCT
    * [[spanHash]] pairs — the standing span INDEX, 16 bytes per
    * unique span, built once and at 100 TB written to the warehouse
    * and probed by every batch instead of recut (this facade recuts
    * it only because it takes raw documents); the probe is one hash
    * equi-join, work linear in the BATCH for a fixed index; span
    * text never shuffles on either side. */
  def duplicatedSpansAgainst(corpus: DataFrame, corpusId: Column, corpusText: Column,
                             batch: DataFrame, batchId: Column, batchText: Column,
                             spanTokens: Int = 16): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val index = hashedSpans(corpus, corpusId, corpusText, spanTokens, spanTokens)
      .select(col("h1"), col("h2")).distinct()
      .withColumn("is_dup", lit(1))
    hashedSpans(batch, batchId, batchText, spanTokens, spanTokens)
      .join(index, Seq("h1", "h2"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans"),
           count(col("is_dup")).as("dup_spans"))
      .select(col("id"), col("n_spans"), col("dup_spans"),
              expr("dup_spans * 1000L div n_spans").as("dup_permille"))
  }

  /** Split-document STITCH detection: pairs (a, b) where the LAST
    * `boundaryTokens` tokens of document a are verbatim the FIRST
    * `boundaryTokens` tokens of document b — the signature of one
    * source document split across two crawl records (pagination,
    * chunked exports, truncated-and-continued posts). A reassembly
    * pass chains these pairs; a dedup pass treats the shared boundary
    * as overlap to cut. Emits (doc_a, doc_b, boundary) with the
    * shared boundary text, a ≠ b (a self-pair just means a doc whose
    * head equals its tail).
    *
    * Scale shape: two row-local boundary projections (suffix side,
    * prefix side) keyed by [[spanHash]]'s 128-bit pair — ONE hash
    * equi-join on 16-byte keys, never all-pairs; boundary text rides
    * only the suffix side for the report. A boilerplate boundary
    * shared by H suffixes and H prefixes makes the OUTPUT itself H²
    * — the containment-family regime where no exact guard can beat
    * work that is the output; cut such boundaries upstream (they are
    * stop-gram-shaped) if a corpus exhibits it. */
  def stitchPairs(docs: DataFrame, id: Column, text: Column,
                  boundaryTokens: Int = 16): DataFrame = {
    require(boundaryTokens >= 1, s"boundaryTokens must be >= 1, got $boundaryTokens")
    val t = split(text, " ")
    val base = docs.select(id.as("id"), t.as("t"))
      .filter(size(col("t")) >= boundaryTokens)
    val suf = base
      .select(col("id").as("doc_a"),
              array_join(slice(col("t"), -boundaryTokens, boundaryTokens), " ").as("boundary"))
      .select(Seq(col("doc_a"), col("boundary")) ++ spanHash(col("boundary")): _*)
    val pre = base
      .select(col("id").as("doc_b"),
              array_join(slice(col("t"), 1, boundaryTokens), " ").as("__p"))
      .select(col("doc_b") +: spanHash(col("__p")): _*)
    suf.join(pre, Seq("h1", "h2"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("boundary"))
  }

  /** Top-k vocabulary COVERAGE curve — the OOV-rate table a tokenizer
    * or vocab-size decision reads: for each candidate vocabulary size
    * k, how many token TYPES the top-k covers and what permille of
    * the corpus's total token MASS they carry (tokens ranked by
    * frequency desc, ties by token text — one total order both
    * engines state). Output: (k, top_types, covered_permille) per
    * requested k, all integers.
    *
    * Scale shape: one corpus scan → vocab-scale token counts (map-
    * side combinable) → rank via the two-pass distributed
    * [[globalRankDesc]] (range-bucketed; at 10⁸-type web vocabularies
    * no single-partition window ever appears) → the k-explode and
    * rollup touch only vocab-scale rows. */
  def vocabCoverage(docs: DataFrame, text: Column,
                    ks: Seq[Int] = Seq(1000, 10000, 100000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be >= 1, got $ks")
    // dedupe: a repeated k would be exploded twice and MERGED by the
    // groupBy("k"), doubling that row's top_types/covered/total
    // (round-10 ADVICE) — one output row per requested size is the
    // only sane reading of the request
    val kList = ks.distinct
    val counts = docs.select(explode(split(text, " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val ranked = globalRankDesc(counts, col("n"), col("tok"))
      .select(col("tie").as("tok"), col("rank"))
    counts.join(ranked, "tok")
      .select(col("n"), col("rank"),
              explode(array(kList.map(k => lit(k.toLong)): _*)).as("k"))
      .groupBy("k")
      .agg(sum(when(col("rank") <= col("k"), 1L).otherwise(0L)).as("top_types"),
           sum(when(col("rank") <= col("k"), col("n")).otherwise(0L)).as("covered"),
           sum(col("n")).as("total"))
      .select(col("k"), col("top_types"),
              expr("covered * 1000L div total").as("covered_permille"))
  }

  /** SPAN-level eval-set decontamination — the exact-substring
    * sibling of the n-gram-overlap contamination check: a corpus
    * document is span-contaminated iff it shares a verbatim
    * `spanTokens`-token span (disjoint cut, [[tokenSpans]] — the
    * q_span_dedup contract) with an eval document. N-gram overlap
    * catches paraphrase-adjacent leakage; a 16-token verbatim span is
    * the smoking-gun "the benchmark text itself is in the training
    * set" signal (the Lee-et-al-2022 substring regime applied to
    * train/eval instead of train/train).
    *
    * Output: ONE row per eval doc with ≥ 1 full span — (eval_id,
    * n_eval_spans, n_contaminated = corpus docs sharing ≥ 1 span,
    * hit_spans = corpus span INSTANCES matching) — zeros when clean,
    * so a clean corpus yields an explicit all-clear report, not an
    * empty relation. Eval spans are de-duplicated per eval doc
    * (repetition inside an eval doc must not double-count a hit).
    *
    * Scale shape: both sides cut row-locally and keyed by
    * [[spanHash]]'s 128-bit pair (span text never shuffles); the eval
    * side is tiny BY DEFINITION (an eval set, not a corpus) and is
    * broadcast, so the corpus side streams map-side with NO shuffle
    * of corpus spans at all — the per-eval rollup moves only
    * (eval_id, counts) metadata. */
  def spanContamination(docs: DataFrame, id: Column, text: Column,
                        isEval: Column, spanTokens: Int = 16): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    // two pruned scans (the eval predicate pushes down to the source)
    // rather than one scan dragging an is_eval flag through the cut —
    // the eval slice is tiny by definition, the corpus scan dominates
    // identically either way
    val evalSpans = hashedSpans(docs.filter(isEval), id, text, spanTokens, spanTokens)
      .select(col("id").as("eval_id"), col("h1"), col("h2")).distinct()
    val evalSizes = evalSpans.groupBy("eval_id")
      .agg(count(lit(1)).as("n_eval_spans"))
    val hits = hashedSpans(docs.filter(!isEval), id, text, spanTokens, spanTokens)
      .join(broadcast(evalSpans), Seq("h1", "h2"))
      .groupBy("eval_id")
      .agg(count_distinct(col("id")).as("n_contaminated"),
           count(lit(1)).as("hit_spans"))
    evalSizes.join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_eval_spans"),
              coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
              coalesce(col("hit_spans"), lit(0L)).as("hit_spans"))
  }

  /** Per-document n-gram NOVELTY — the inverse of boilerplate: the
    * share of a document's distinct word-n-grams that occur NOWHERE
    * else in the corpus (document frequency exactly 1). The standard
    * curation signal next to dup-rate: high novelty = unique content
    * worth keeping, near-zero novelty = assembled from corpus-common
    * fragments even when no single pair-level duplicate exists (which
    * is why it complements, not duplicates, the pair facades).
    *
    * Output: (doc_id, n_grams, novel_grams, novelty_permille =
    * 1000·novel div n — pure integer floor-div, rule F) per doc with
    * ≥ 1 n-gram. The corpus-wide df is the shared [[gramDocFreq]]
    * table — a vocab-scale file read whose join broadcasts off real
    * stats.
    *
    * Scale shape: row-local distinct-gram explode with row-local
    * sizes ([[gramRows]] — no per-doc aggregate), one join
    * against the vocab-scale df table, one per-doc rollup. Never
    * all-pairs; the only corpus-scale shuffle is the per-doc rollup
    * on the doc id. */
  def ngramNovelty(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = gramRows(docGramArrays(docs, id, text, n)).withColumnRenamed("na", "n_grams")
    // the df side joins by int64 fingerprint like every other
    // inverted-index consumer — the broadcast table shrinks and the
    // probe hashes a long, not a ~25-byte string
    val df = gramFpDocFreq(docs, id, text, n)
    grams.join(df, "gf")
      .groupBy("doc_id", "n_grams")
      .agg(sum(when(col("gdf") === 1, 1L).otherwise(0L)).as("novel_grams"))
      .select(col("doc_id"), col("n_grams"), col("novel_grams"),
              expr("novel_grams * 1000L div n_grams").as("novelty_permille"))
  }

  /** Deterministic Poisson/PPS sample (probability proportional to
    * size — classic survey sampling, Hájek/Horvitz–Thompson): keeps
    * each row independently with probability
    * p = min(weight · scaleNum, P) / P where P = 1e9+7, driven by the
    * same pure-integer [[epochShuffleKey]] uniform as the rate
    * sampler — NO floating point in the inclusion decision, so the
    * sample is bit-reproducible on any engine and any partitioning.
    * Longer/heavier rows are proportionally likelier to survive — the
    * weighting a byte-budgeted corpus cut wants.
    *
    * Output: the caller's columns + `inv_p` (1/p, the row's
    * Horvitz–Thompson weight — summing it over any sampled subgroup
    * estimates that subgroup's TOTAL row count in expectation).
    * Row-local filter, single scan, no shuffle: embarrassingly
    * parallel at any scale. */
  def ppsSample(df: DataFrame, id: Column, weight: Column,
                scaleNum: Long, seed: Long = 0): DataFrame = {
    require(scaleNum >= 1, s"scaleNum must be >= 1, got $scaleNum")
    require(!df.columns.contains("inv_p"),
      "column name inv_p is reserved by ppsSample")
    val P = 1000000007L
    val cap = least(weight.cast("long") * scaleNum, lit(P))
    df.filter(epochShuffleKey(id, seed) < cap)
      .withColumn("inv_p", lit(P.toDouble) / cap)
  }

  /** Exact-k weighted sample WITHOUT replacement — Efraimidis–Spirakis
    * A-ES, [[ppsSample]]'s fixed-size sibling: keeps EXACTLY
    * min(k, n) rows, inclusion probability ∝ `weight`, by ranking
    * rows on uᵢ^(1/wᵢ) (ordered equivalently as ln(uᵢ)/wᵢ) and
    * cutting the top k. The uniform uᵢ derives from the same
    * pure-integer [[epochShuffleKey]] bijection as every sampler
    * here, so the SELECTION is deterministic and engine-portable
    * (the float enters only through ln of a well-separated uniform —
    * rank gaps sit orders of magnitude above cross-engine libm
    * ulps; measured 1.3e-7..1.4e-5 at the test sfs for k = 100).
    * Zero/negative/NULL weights are excluded (a zero-weight row must
    * never be sampled; u^(1/0) is ill-defined).
    *
    * Scale shape: a row-local key projection + TakeOrderedAndProject
    * — per-partition top-k heaps, ≤ k rows per partition to the
    * driver merge, no global sort, no shuffle of the data itself. */
  def weightedSampleExact(df: DataFrame, id: Column, weight: Column,
                          k: Int, seed: Long = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    requireNoReserved(df, "weightedSampleExact df")
    val P = 1000000007L
    val u = (epochShuffleKey(id, seed) + 1).cast("double") / (P + 1).toDouble
    df.filter(weight.cast("double") > 0)
      .withColumn("__key", log(u) / weight.cast("double"))
      .orderBy(col("__key").desc, id.asc)
      .limit(k)
      .drop("__key")
  }

  /** Zipf's-law fit of an item frequency distribution: ONE row —
    * (n_types, n_tokens, slope, r2) where slope/r2 come from the
    * least-squares regression of ln(count) on ln(rank) over the
    * frequency-ranked item table (a healthy natural-language corpus
    * fits slope ≈ −1 with high r²; templated/synthetic text does
    * not — the corpus-health dashboard metric). Doubles UNROUNDED;
    * callers round per their precision contract.
    *
    * Ranks are [[globalRankDesc]] (two-pass, no single-partition
    * window — the item table is vocabulary-scale, which at 100 TB is
    * NOT driver-scale), the fit is one `regr_slope`/`regr_r2`
    * aggregate over it — both engines compute the same
    * covar_pop/var_pop closed form. */
  def zipfFit(rows: DataFrame, item: Column): DataFrame = {
    val counts = rows.select(item.cast("string").as("zf_item"))
      .filter(col("zf_item").isNotNull)
      .groupBy("zf_item").agg(count(lit(1)).as("zf_cnt"))
    val totals = counts.agg(count(lit(1)).as("n_types"),
                            sum("zf_cnt").as("n_tokens"))
    val fit = globalRankDesc(counts, col("zf_cnt"), col("zf_item"))
      .agg(regr_slope(log(col("key")), log(col("rank"))).as("slope"),
           regr_r2(log(col("key")), log(col("rank"))).as("r2"))
    totals.crossJoin(broadcast(fit))
  }

  /** MinHash signature of a token column, as an aggregation over the
    * rows of one group (`groupBy(docId).agg(minhashSignature(col))`).
    * Partial buffers merge element-wise-min — combiner-safe. */
  def minhashSignature(token: Column): Column = udaf(MinHash.agg).apply(token)

  /** Exact content fingerprint for dedup grouping: the sorted token
    * multiset of a whitespace-token text column. */
  def contentFingerprint(text: Column): Column =
    array_join(array_sort(split(text, " ")), " ")

  /** Connected components of an undirected edge list (first two
    * columns = long endpoint ids) → (node, label = component-min id).
    * Large-star/small-star: O(log n) rounds at any graph diameter;
    * fails loudly if the round cap is hit. */
  def connectedComponents(edges: DataFrame): DataFrame =
    operators.ConnectedComponents.alternatingStar(edges)

  /** Triangle statistics of an undirected edge list (first two
    * columns = long endpoint ids; self-loops and duplicate/reversed
    * edges tolerated — canonicalized away first). ONE row out:
    * (n_nodes, n_edges, n_wedges, n_triangles, clustering) where
    * clustering = 3·triangles / wedges (0 when wedge-free) — the
    * global clustering coefficient, UNROUNDED; callers round per
    * their precision contract.
    *
    * Exact count via the DEGREE-ORDERED edge orientation (the
    * standard distributed-triangle trick, e.g. Suri & Vassilvitskii,
    * WWW'11): each edge points away from its lower-(degree, id)
    * endpoint, wedges are generated only at a triangle's MINIMUM
    * vertex in that order, so total wedge work is Σ outdeg² = O(m√m)
    * even on power-law graphs where the naive Σ deg² is quadratic at
    * the hubs. Wedge generation per source vertex runs through
    * [[operators.SkewJoin.blockedSelfPairs]], so one residual hot hub
    * still cannot serialize a task; closure is one equi-join of the
    * id-normalized wedge pairs against the canonical edge list. The
    * canonical edge list is materialized ONCE as temp parquet
    * ([[TempTables.shared]]) — it feeds degrees, orientation,
    * and the closure semi-join, and those joins' broadcast decisions
    * need file-size stats, which an RDD-backed checkpoint cannot
    * supply (PlanGuardSpec's stats-loss guard). At real cluster
    * scale the same write targets the warehouse. */
  def triangleStats(edges: DataFrame, maxBucket: Int = 4096): DataFrame = {
    val e = TempTables.shared("tri_edges", operators.Fixpoint.undirectedEdges(edges))()
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") < col("db") ||
                   (col("da") === col("db") && col("a") < col("b")),
                   struct(col("a").as("u"), col("b").as("w")))
              .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
    val wedges = operators.SkewJoin.blockedSelfPairs(oriented, Seq("u"), "w", maxBucket)
      .select(least(col("w_a"), col("w_b")).as("a"),
              greatest(col("w_a"), col("w_b")).as("b"))
    val nTri = wedges.join(e, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    deg.agg(count(lit(1)).as("n_nodes"),
            sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
      .crossJoin(broadcast(nEdges))
      .crossJoin(broadcast(nTri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
              (lit(3.0) * col("n_triangles") / greatest(col("n_wedges"), lit(1L)))
                .as("clustering"))
  }

  /** PageRank over an undirected edge list (first two columns = long
    * endpoint ids), exactly `iters` damped power iterations from the
    * uniform start — (node, rank), ranks UNROUNDED doubles summing to
    * ~1. The graph is symmetrized (each undirected edge contributes
    * both directions), so every node has outdegree ≥ 1 and no
    * dangling-mass correction is needed.
    *
    * Distributed shape: per-source outdegree is folded into the
    * adjacency ONCE (localCheckpoint — the loop body re-reads it every
    * iteration); each iteration is one equi-join of the rank table
    * onto the adjacency plus one partial+final sum by destination —
    * the classic join-agg PageRank step, shuffle-bounded by |E| with
    * map-side combine on the hot destinations. Per-iteration lineage
    * is truncated with localCheckpoint exactly like
    * [[connectedComponents]]' rounds (swap for reliable `checkpoint`
    * on a DFS at cluster scale). The only driver-side values are the
    * node count (one metadata aggregate) and the fixed iteration
    * counter — never data. */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters must be in [1, 100], got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0, 1), got $damping")
    val e = operators.Fixpoint.undirectedEdges(edges)
    val adj = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    val outdeg = adj.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // ONE edge build: materialize the weighted adjacency first, then
    // take the node count as a metadata aggregate over the cached RDD
    val adjW = adj.join(outdeg, "src").localCheckpoint()
    val n = adjW.agg(countDistinct("src")).head.getLong(0)
    require(n > 0, "pageRank needs a non-empty graph")
    var rank = adjW.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iters) {
      rank = adjW.join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("node")
        .agg((lit((1 - damping) / n) + lit(damping) * sum(col("c"))).as("rank"))
      // truncate lineage every 8 iterations, not every one: the rank
      // table is a pure chain, so a handful of iterations fold into a
      // single lazy job (the planner broadcasts the small rank side);
      // unconditional per-iteration checkpoints turned 10 iterations
      // into 10 scheduled jobs and dominated wall-clock at small |V|
      if (i % 8 == 0 && i < iters) rank = rank.localCheckpoint()
    }
    rank
  }

  /** The k-core of an undirected edge list (first two columns = long
    * endpoint ids): the maximal subgraph in which every node has
    * degree ≥ k, found by iterative peeling — drop nodes with degree
    * < k, restrict edges to survivors, repeat until nothing changes.
    * Returns (node, core_deg) with core_deg = the node's degree WITHIN
    * the core (≥ k by construction); nodes peeled away do not appear.
    * The 2-core strips pendant trees (leaving only cycles), higher k
    * isolates dense regions — on the near-dup pair graph this
    * separates chained duplicate clusters from tight cliques.
    *
    * Each peeling round is one degree aggregate plus two LEFT SEMI
    * joins restricting the edge list, shuffle-bounded by |E| and
    * shrinking every round. Rounds run on [[operators.Fixpoint.converge]]:
    * it succeeds iff peeling stops changing the edge set within
    * `maxRounds` rounds, and fails loudly otherwise. */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
    val (core, _) = operators.Fixpoint.converge(operators.Fixpoint.undirectedEdges(edges),
        maxRounds, s"kcore(k=$k) did not converge in $maxRounds peeling rounds — raise maxRounds") {
      (e, _) =>
        val alive = degrees(e).filter(col("deg") >= k)
        e.join(alive.select(col("v").as("a")), Seq("a"), "left_semi")
          .join(alive.select(col("v").as("b")), Seq("b"), "left_semi")
          .select("a", "b")
    }
    degrees(core).select(col("v").as("node"), col("deg").as("core_deg"))
  }

  /** Deterministic synchronous label propagation over an undirected
    * edge list (round 14) — the classic near-linear community
    * detector (Raghavan et al. 2007), pinned down to a reproducible
    * contract: labels start as node ids; each round EVERY node
    * simultaneously adopts the label most frequent among its
    * neighbours' current labels, ties broken to the SMALLEST label;
    * the result is the label state after EXACTLY `rounds` rounds.
    * Fixed rounds, not to-convergence: synchronous LPA can oscillate
    * with period 2 on bipartite structure (a single edge flips
    * labels forever), so "after exactly R rounds" IS the
    * deterministic semantics both engines state — and what the
    * DuckDB oracle unrolls. Labels never cross components; within a
    * dense cluster they collapse toward its minimum id.
    *
    * Distributed shape per round: one |E|-scale equi-join (neighbour
    * labels), one map-side-combinable (node, label) count, one
    * map-side-combinable struct-max argmax — no windows, no
    * collects; the driver loop holds zero data and lineage truncates
    * every 4 rounds (the pageRank cadence). */
  def labelPropagation(edges: DataFrame, rounds: Int = 5): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds must be in [1, 50], got $rounds")
    val e0 = operators.Fixpoint.undirectedEdges(edges)
    val adj = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    var labels = adj.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (i <- 1 to rounds) {
      labels = adj
        .join(labels.select(col("node").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src"), col("nl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        // argmax by (count, then SMALLEST label): struct max compares
        // cnt first, then the negated label — both integral, exact
        .agg(max(struct(col("cnt"), (-col("nl")).as("mnl"))).as("m"))
        .select(col("src").as("node"), (-col("m.mnl")).as("label"))
      if (i % 4 == 0 && i < rounds) labels = labels.localCheckpoint()
    }
    labels
  }

  /** Single-source shortest hop distances over an undirected edge
    * list — BFS by frontier expansion: (node, dist) for every node
    * reachable from `source`, dist 0 at the source (only the source
    * when it has no edges). The reachability/radius primitive
    * ([[kcore]]'s traversal sibling; connected components answers
    * "same component?", this answers "how far?").
    *
    * The state is the (node, dist) table. Round k joins its frontier
    * (dist = k − 1) onto the adjacency — shuffle ∝ the frontier's
    * incident edges, not |E| — anti-joins the visited set and adds
    * the new layer at dist k. Rounds run on
    * [[operators.Fixpoint.converge]] with a cap of `maxDepth + 1`: the
    * call fails loudly iff some reachable node lies more than
    * `maxDepth` hops away (a truncated distance table would be wrong,
    * not partial). */
  def shortestPaths(edges: DataFrame, source: Long, maxDepth: Int = 20): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val e = operators.Fixpoint.undirectedEdges(edges)
    val dir = e.union(e.select(col("b").as("a"), col("a").as("b"))).localCheckpoint()
    val spark = edges.sparkSession
    import spark.implicits._
    // the union concatenates partitions; without the coalesce round k's
    // state would carry k more partitions than it started with
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (dist, _) = operators.Fixpoint.converge(Seq((source, 0)).toDF("node", "dist"),
        maxDepth + 1,
        s"shortestPaths did not exhaust the component within maxDepth=$maxDepth hops — raise maxDepth") {
      (dist, k) =>
        val frontier = dist.filter(col("dist") === k - 1).select(col("node").as("a"))
        dist.union(dir.join(frontier, Seq("a"), "left_semi")
          .select(col("b").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(k).as("dist")))
          .coalesce(partitions)
    }
    dist
  }

  /** Association rules over ANY (basket, item) DataFrame — classic
    * market-basket mining (Agrawal–Srikant), pair rules only: for
    * every item pair co-occurring in ≥ `minBoth` baskets, the three
    * canonical measures in EXACT integer permille (floor `div` on
    * non-negative longs — no float anywhere):
    * confidence(a→b) = n_ab/n_a, confidence(b→a) = n_ab/n_b, and
    * lift = n_ab·N / (n_a·n_b) (>1000 permille ⇔ positively
    * associated). Returns (item_a, item_b, n_both, conf_ab_permille,
    * conf_ba_permille, lift_permille), item_a < item_b.
    *
    * Scale shape (the co-purchase edge-build argument, §2.14): per
    * basket one map-side-combined collect_set bounded by basket
    * width, pairs exploded map-side, then a partial+final pair count
    * — single co-occurrences grow linearly but pairs repeating
    * ≥ minBoth are birthday-bounded, so the rule table stays
    * metadata-scale while facts grow. Per-item basket counts attach
    * via vocabulary-scale equi-joins (planner broadcasts from
    * stats); N is a 1-row broadcast scalar. A pathological basket at
    * 100× gets a per-basket item cap before the explode — same
    * governor the graph build documents. */
  def basketRules(df: DataFrame, basket: Column, item: Column,
                  minBoth: Long = 2L): DataFrame = {
    require(minBoth >= 1, s"minBoth must be >= 1, got $minBoth")
    val b = df.select(basket.as("__bk"), item.as("__it")).distinct()
    val itemCounts = b.groupBy("__it").agg(count(lit(1)).as("n_item"))
    val nBaskets = b.agg(countDistinct("__bk").cast("long").as("__nb"))
    b.groupBy("__bk").agg(collect_set(col("__it")).as("__ps"))
      .select(explode(col("__ps")).as("item_a"), col("__ps"))
      .select(col("item_a"), explode(col("__ps")).as("item_b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minBoth)
      .join(itemCounts.select(col("__it").as("item_a"), col("n_item").as("__na")),
            "item_a")
      .join(itemCounts.select(col("__it").as("item_b"), col("n_item").as("__nb2")),
            "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_both"),
              expr("(n_both * 1000) div __na").as("conf_ab_permille"),
              expr("(n_both * 1000) div __nb2").as("conf_ba_permille"),
              expr("(n_both * __nb * 1000) div (__na * __nb2)").as("lift_permille"))
  }

  /** Latest-row compaction for ANY change-log DataFrame — the CDC
    * upsert read path: one surviving row per `keyCols` group, the one
    * greatest by `versionCols` (lexicographic), caller's columns and
    * column order untouched. This is log-structured table compaction
    * (Hudi/Delta "merge latest", Kafka log compaction) as a query.
    *
    * Shape: ONE map-side-combinable `max(struct(version ++ payload))`
    * aggregate — each map task forwards at most one candidate row per
    * key it sees, so shuffle volume is bounded by |keys|, not |log|.
    * The window form (`row_number() = 1`) shuffles and SORTS the
    * entire log to discard all but one row per key; at a 100 TB log
    * with a bounded key universe the aggregate ships orders of
    * magnitude less.
    *
    * Determinism: `versionCols` should order each key's rows totally
    * (e.g. timestamp + unique id). When they don't, the comparison
    * falls through into the payload columns — still deterministic, but
    * payload-null ordering is then engine-specific, so keep the
    * version prefix total if the output must be engine-portable. */
  def compactLatest(df: DataFrame, keyCols: Seq[String],
                    versionCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "compactLatest needs at least one key column")
    require(versionCols.nonEmpty, "compactLatest needs at least one version column")
    requireNoReserved(df, "compactLatest df")
    val missing = (keyCols ++ versionCols).filterNot(df.columns.contains)
    require(missing.isEmpty, s"compactLatest: columns not in df: ${missing.mkString(", ")}")
    val overlap = keyCols.intersect(versionCols)
    require(overlap.isEmpty, s"compactLatest: columns in both keyCols and versionCols: ${overlap.mkString(", ")}")
    val payload = df.columns.filterNot(c => keyCols.contains(c) || versionCols.contains(c)).toSeq
    val ordered = (versionCols ++ payload).map(c => col(c).as(c))
    df.groupBy(keyCols.map(col): _*)
      .agg(max(struct(ordered: _*)).as("__m"))
      .select(df.columns.toIndexedSeq.map { c =>
        if (keyCols.contains(c)) col(c) else col("__m").getField(c).as(c)
      }: _*)
  }

  /** Unit-normalized tf-idf document vectors over the corpus's own
    * top-`vocabLimit` tokens — the sparse-text half of the similarity
    * family (the embeddings column is the dense half): returns
    * (doc_id, vec: array<double>) ready for [[topkCosinePairs]] /
    * [[knnJoinExact]] / [[topPrincipalComponent]]. Vocabulary =
    * the `vocabLimit` highest-document-frequency tokens (ties broken
    * by token asc — fully deterministic); idf = ln(N/df); tf = raw
    * in-doc count; vectors L2-normalized so dot ≡ cosine (all-zero
    * vectors — no vocab token — stay zero).
    *
    * Scale shape: ONE map-side-combined df aggregate + a
    * TakeOrdered(vocabLimit) cut; the vocabulary is O(vocabLimit)
    * DRIVER state broadcast back (the ivfTrain centroid-scalar
    * pattern), and every vector builds ROW-LOCALLY from it — zero
    * shuffle in the featurize step at any corpus size. `vocabLimit`
    * is the explicit feature-dim budget: this is feature SELECTION
    * (engine-portable, oracle-checkable), chosen over feature
    * HASHING (JVM-hash-dependent) because the selected path verifies
    * cross-engine; at an unbounded vocabulary swap the selection for
    * a hashed dim without changing the downstream kernels. */
  def tfidfVectors(docs: DataFrame, id: Column, text: Column,
                   vocabLimit: Int): DataFrame = {
    require(vocabLimit >= 1, s"vocabLimit must be >= 1, got $vocabLimit")
    // fanOutForCompute (round 17, guide §2.5): both consumers of this
    // projection — the df-count explode and the per-doc featurize —
    // are heavy row-local stages that otherwise serialize on a
    // single-split local scan; identity at warehouse scale
    val toks = fanOutForCompute(
      docs.select(id.cast("long").as("doc_id"),
                  split(text, " ").as("__toks")))
    // ONE corpus pass for BOTH the document count N (idf's numerator)
    // and the document-frequency top-k (round-12 verdict #1: the
    // separate toks.count() job was a second full scan charged to the
    // tfidf build's first touch). A per-document sentinel "token"
    // rides the same explode: its df IS N, and it survives the
    // limit+1 cut by construction — df = N bounds every real token's
    // df. Collision-free for ANY input: tokens are produced by
    // split(text, " ") right here, so no token can contain a space.
    // Only "" or control-char tokens can tie-sort before " " at
    // df = N; vocabLimit+1 of those would push the sentinel out —
    // and then the loud require below fires, never a silent wrong N.
    val sent = " "
    // coalesce BEFORE concat (round-12 review): split(NULL) is NULL
    // and concat(NULL, …) is NULL, so a NULL-text row would silently
    // leave the sentinel count and undercount N — diverging from both
    // the replaced toks.count() (which counted every row) and the
    // oracle's COUNT(*). A NULL row contributes the sentinel only,
    // exactly like the old two-job path.
    val top = toks
      .select(explode(concat(coalesce(array_distinct(col("__toks")),
                                      array().cast("array<string>")),
                             array(lit(sent)))).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__df"))
      .orderBy(col("__df").desc, col("__t").asc).limit(vocabLimit + 1)
      .collect()
    val n = top.find(_.getString(0) == sent).map(_.getLong(1)).getOrElse(0L).toDouble
    require(n > 0, "tfidfVectors: empty corpus (or a vocabulary of " +
      "ubiquitous control-char tokens displaced the count sentinel)")
    val vocab = top.iterator.filter(_.getString(0) != sent).take(vocabLimit)
      .map(r => (r.getString(0), math.log(n / r.getLong(1)))).toArray
    // ONE array Literal each, not CreateArray(64 children) — with 64
    // per-token lit() nodes the optimizer re-walked a ~full-vocab-width
    // tree on EVERY action over the vectors (measured ~1.1 s of
    // driver-side plan time per write at vocabLimit = 64, invariant
    // under task parallelism — the round-13 verdict-#5 excursion's
    // repeatable component); a typedLit folds the whole vocabulary
    // into a single leaf
    val vArr = typedLit(vocab.map(_._1).toSeq)
    val idfArr = typedLit(vocab.map(_._2).toSeq)
    toks
      // NULL-text rows featurize over the EMPTY token array (review
      // ×2): with NULL-text now officially counted in N, the raw
      // size(filter(NULL,…)) would emit a vector of SQL NULLs where
      // the contract promises the all-zero vector
      .select(col("doc_id"),
              coalesce(col("__toks"), array().cast("array<string>")).as("__toks"))
      .select(col("doc_id"),
        zip_with(vArr, idfArr,
          (t, w) => size(filter(col("__toks"), x => x === t)).cast("double") * w)
          .as("__w"))
      // normalize in ONE projection over __w (round-13 verdict #5):
      // the previous three-Project chain re-materialized the
      // 64-double array row twice more (higher-order lambdas keep
      // these projections out of whole-stage codegen, so each level
      // is a real interpreted row copy). The norm is recomputed
      // inline inside the when and the lambda — O(64) flops per
      // evaluation, ~4k flops/doc total, noise next to the featurize
      // filter scans — in exchange for dropping a full corpus-scale
      // row materialization.
      .select(col("doc_id"),
        when(aggregate(col("__w"), lit(0.0), (a, b) => a + b * b) > 0,
             transform(col("__w"), x =>
               x / sqrt(aggregate(col("__w"), lit(0.0), (a, b) => a + b * b))))
          .otherwise(col("__w")).as("vec"))
  }

  /** Portable order-independent table fingerprint — the
    * pipeline-integrity op ("did the copy/migration/rewrite lose or
    * mutate rows?"): ONE row (n_rows, xor_sig, sum_sig) from a pure
    * map + single partial+final aggregate, no shuffle beyond the
    * 1-row combine at any table size. Each row folds `cols` through
    * the polynomial hash h = fold((a·31 + c mod P)) with
    * P = 1000000007 in plain non-negative BIGINT arithmetic — NO
    * engine-specific hash — so ANY engine (DuckDB, Trino, a Python
    * reader) can recompute the identical signature on its copy.
    * Rows combine by XOR (overflow-free, order/partitioning
    * invariant) and by sum (catches the duplicated-row pairs XOR
    * cancels; overflows only past ~9e9 rows — shard the sum by a key
    * range and checksum per shard before that). NULLs fold as the
    * sentinel 999983. Columns must cast to long — pre-scale doubles
    * (e.g. `floor(price * 100)`) so the caller, not the engine,
    * owns the float→int convention. */
  def tableChecksum(df: DataFrame, cols: Seq[Column]): DataFrame = {
    require(cols.nonEmpty, "tableChecksum needs at least one column")
    val P = 1000000007L
    val h = cols.map(c => pmod(coalesce(c.cast("long"), lit(999983L)), lit(P)))
      .reduce((a, b) => pmod(a * 31 + b, lit(P)))
    df.select(h.as("__h"))
      .agg(count(lit(1)).as("n_rows"), bit_xor(col("__h")).as("xor_sig"),
           sum(col("__h")).as("sum_sig"))
  }

  /** Crawl SNAPSHOT DIFF — the recrawl ingest dashboard (round 16,
    * the round-15 verdict's top missing-frontier item): given two
    * corpus snapshots keyed by a stable document id, report per
    * group (source/domain/shard) the docs ADDED (in new only),
    * REMOVED (in old only), CHANGED (same id, different content
    * signature) and UNCHANGED, plus the token-mass deltas a budget
    * owner reads — what each recrawl actually did to the corpus,
    * before any downstream stage re-runs. q_gramdf_merge diffs gram
    * STATS between batches; this is the doc-LEVEL face next to it.
    *
    * Inputs are (id, group, sig, weight) per side: `sig` is a
    * content signature — pass a hash of the content (xxhash64, or
    * [[tableChecksum]]'s row arithmetic) so the TEXT never reaches
    * the join; CHANGED means `sig` differs, exact up to the hash's
    * collision rate (the [[ConnectedComponents]] 2⁻⁶⁴ stance — an
    * oracle may verify with direct content comparison). `weight` is
    * the mass the deltas are paid in (tokens, bytes). A doc present
    * on both sides counts under its NEW group if the two disagree
    * (the doc moved sources — stated, not silent).
    *
    * Output per group: n_old, n_new, n_added, n_removed, n_changed,
    * n_unchanged, tokens_added, tokens_removed, tokens_changed_delta
    * (Σ new−old over changed docs — signed), net_token_delta, and
    * churn_permille = (added+removed+changed)·1000 div n_old (0 when
    * n_old = 0 — an explicit CASE, never a divide-by-zero
    * divergence). All integers (rule I).
    *
    * Scale shape: ONE full-outer hash join on the id — each side
    * carries exactly (id, group, sig, weight), ~32 bytes/doc, so at
    * 100 TB the exchange is id-scale, never content-scale (and a
    * warehouse that buckets both snapshots by id co-locates it
    * away); the rollup below is map-side-combinable to |groups|
    * rows. */
  def snapshotDiff(oldSnap: DataFrame, oldId: Column, oldGroup: Column,
                   oldSig: Column, oldWeight: Column,
                   newSnap: DataFrame, newId: Column, newGroup: Column,
                   newSig: Column, newWeight: Column): DataFrame = {
    val o = oldSnap.select(oldId.cast("long").as("id"),
      oldGroup.as("grp_o"), oldSig.cast("long").as("sig_o"),
      oldWeight.cast("long").as("w_o"), lit(1L).as("p_o"))
    val n = newSnap.select(newId.cast("long").as("id"),
      newGroup.as("grp_n"), newSig.cast("long").as("sig_n"),
      newWeight.cast("long").as("w_n"), lit(1L).as("p_n"))
    val st = when(col("p_o").isNull, lit("added"))
      .when(col("p_n").isNull, lit("removed"))
      .when(col("sig_o") =!= col("sig_n"), lit("changed"))
      .otherwise(lit("unchanged"))
    o.join(n, Seq("id"), "full_outer")
      .select(coalesce(col("grp_n"), col("grp_o")).as("group"),
              st.as("st"), col("w_o"), col("w_n"))
      .groupBy("group")
      .agg(sum(when(col("st") =!= "added", 1L).otherwise(0L)).as("n_old"),
           sum(when(col("st") =!= "removed", 1L).otherwise(0L)).as("n_new"),
           sum(when(col("st") === "added", 1L).otherwise(0L)).as("n_added"),
           sum(when(col("st") === "removed", 1L).otherwise(0L)).as("n_removed"),
           sum(when(col("st") === "changed", 1L).otherwise(0L)).as("n_changed"),
           sum(when(col("st") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
           sum(when(col("st") === "added", col("w_n")).otherwise(0L)).as("tokens_added"),
           sum(when(col("st") === "removed", col("w_o")).otherwise(0L)).as("tokens_removed"),
           sum(when(col("st") === "changed", col("w_n") - col("w_o"))
             .otherwise(0L)).as("tokens_changed_delta"),
           sum(when(col("st") === "added", col("w_n"))
             .when(col("st") === "removed", -col("w_o"))
             .when(col("st") === "changed", col("w_n") - col("w_o"))
             .otherwise(0L)).as("net_token_delta"))
      .select(col("group"), col("n_old"), col("n_new"), col("n_added"),
              col("n_removed"), col("n_changed"), col("n_unchanged"),
              col("tokens_added"), col("tokens_removed"),
              col("tokens_changed_delta"), col("net_token_delta"),
              when(col("n_old") > 0,
                expr("(n_added + n_removed + n_changed) * 1000 div n_old"))
                .otherwise(lit(0L)).as("churn_permille"))
  }

  /** Near-dup cluster labels for ANY (id, text) DataFrame — the
    * composed dedup pipeline as ONE call: n-gram Jaccard pair graph
    * ([[nearDupPairsNgram]], inverted-index bucketed) → connected
    * components over the pairs ([[connectedComponents]], O(log n)
    * star rounds) → (doc_id, cluster_rep = component-min id).
    * Documents in no near-dup pair are their own singleton cluster, so
    * EVERY input id appears exactly once. */
  def nearDupClusters(docs: DataFrame, id: Column, text: Column,
                      thresholdPermille: Int = 800, n: Int = 3): DataFrame = {
    val ids = docs.select(id.cast("long").as("doc_id"))
    val pairs = nearDupPairsNgram(docs, id, text, thresholdPermille, n)
      .select(col("doc_a"), col("doc_b"))
    val labels = connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("label"))
    ids.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_rep"))
  }

  /** Near-dup removal for ANY (id, text) DataFrame — keep exactly one
    * representative (the minimum id) per near-dup cluster: the rows of
    * `docs` whose id equals its [[nearDupClusters]] cluster_rep, with
    * the caller's columns untouched. The training-data "drop near
    * duplicates" stage as one composable call. */
  def dropNearDups(docs: DataFrame, id: Column, text: Column,
                   thresholdPermille: Int = 800, n: Int = 3): DataFrame = {
    val keep = nearDupClusters(docs, id, text, thresholdPermille, n)
      .filter(col("doc_id") === col("cluster_rep"))
      .select(col("doc_id").as("__keep_id"))
    docs.join(keep, id.cast("long") === col("__keep_id"), "left_semi")
  }

  /** Word-n-gram Jaccard near-dup pairs over ANY (id, text) DataFrame:
    * (doc_a, doc_b, jaccard rounded 3) for exact Jaccard ≥
    * thresholdPermille/1000, doc_a < doc_b, unordered. The count path of
    * [[operators.GramPairs]] over the full inverted gram index — never
    * all-pairs — with the output-invariant integer size prune and the
    * exact integer threshold. Work ∝ Σ gram-bucket², bounded by gram
    * selectivity, and a gram bucket larger than `maxBucket` docs (a
    * stop-gram at scale) is block-decomposed, so per-task input stays
    * bounded while the pair set is exactly preserved. Docs shorter than
    * n tokens have no n-gram and never pair.
    *
    * `maxGramDocFreq` (default off) is the LOSSY stop-gram cap the
    * 100 TB path wants (the CCNet/RefinedWeb trade): grams appearing
    * in more than that many documents are dropped from the gram
    * universe BEFORE anything quadratic, and Jaccard is computed over
    * the remaining grams (per-doc sizes recomputed on the filtered
    * sets, so the estimate stays internally consistent). A true
    * stop-gram contributes ~zero discriminative signal but Σ bucket²
    * work; the block guard bounds that work per task, the cap removes
    * it. Semantics CHANGE when it fires — an opt-in, never a silent
    * default (BASELINE.md "Round-7 skew bench").
    *
    * The shared [[gramDocFreq]] table serves BOTH faces: capped, it is
    * the stop-gram hot list; uncapped it is the skew guard's
    * per-bucket SIZE table (gdf = the gram bucket's exact row count,
    * since each doc contributes its distinct grams once), replacing
    * the hot-bucket count pass with a vocab-scale parquet read. */
  def nearDupPairsNgram(docs: DataFrame, id: Column, text: Column,
                        thresholdPermille: Int = 800, n: Int = 3,
                        maxBucket: Int = 1024,
                        maxGramDocFreq: Int = Int.MaxValue): DataFrame = {
    require(maxGramDocFreq >= 1, s"maxGramDocFreq must be >= 1, got $maxGramDocFreq")
    val m = operators.GramPairs.Jaccard(thresholdPermille)
    m.report(ngramCountPairs(docs, id, text, m, n, maxBucket, maxGramDocFreq))
  }

  /** The self face of the count path, shared by [[nearDupPairsNgram]],
    * [[nearDupBands]] and [[containmentPairsNgram]]'s capped branch:
    * (doc_a, doc_b, na, nb, common) over the shared gram tables. The
    * sweep's ≥ 800 rollup must equal the 0.8 pair count (pinned in
    * PipelineSpec), which holds because both run this one path. */
  private def ngramCountPairs(docs: DataFrame, id: Column, text: Column,
                              m: operators.GramPairs.Measure, n: Int, maxBucket: Int,
                              maxGramDocFreq: Int = Int.MaxValue): DataFrame = {
    val rows = gramRows(docGramArrays(docs, id, text, n))
    if (maxGramDocFreq == Int.MaxValue)
      operators.GramPairs.countPairs(rows, None, m, maxBucket, Some(gramFpDocFreq(docs, id, text, n)))
    else
      operators.GramPairs.countPairs(
        cappedRows(rows, stopGrams(docs, id, text, n, maxGramDocFreq)), None, m, maxBucket)
  }

  /** Near-dup threshold SWEEP — the tuning table read before anyone
    * picks [[nearDupPairsNgram]]'s threshold: per Jaccard-permille
    * band of width `bandPermille` starting at `lowPermille`, the pair
    * count (band_lo, n_pairs). A dedup threshold is a precision/
    * volume trade and the right value is corpus-specific; sweeping by
    * re-running the pair join once per candidate threshold is K full
    * enumerations, so this facade enumerates candidates ONCE at the
    * LOWEST threshold under consideration and buckets exact integer
    * Jaccard permille — the shape a production pipeline runs (one
    * candidate table at its most permissive cut, every stricter cut a
    * band rollup over it).
    *
    * ALL-INTEGER (rule F): jp = common·1000 div union and
    * band_lo = jp − jp mod bandPermille — no rounded float is ever
    * banded, so a pair whose true Jaccard sits exactly on a band
    * boundary (17/20 = 0.85) lands in its mathematically correct band
    * on every engine (the rounded-double `floor(j·20)` form misbands
    * exactly those pairs on BOTH engines — agreeing, but wrong).
    * `lowPermille` must be a multiple of `bandPermille` (bands are
    * absolute multiples of the width; a misaligned cut would truncate
    * and mislabel its lowest band — rejected loudly, review catch).
    *
    * Scale shape: [[nearDupPairsNgram]]'s count path at the LOW
    * threshold, plus a ≤ (1000−low)/band + 1 row metadata rollup. */
  def nearDupBands(docs: DataFrame, id: Column, text: Column,
                   lowPermille: Int = 700, bandPermille: Int = 50,
                   n: Int = 3, maxBucket: Int = 1024): DataFrame = {
    require(lowPermille > 0 && lowPermille <= 1000,
      s"lowPermille must be in (0, 1000], got $lowPermille")
    require(bandPermille >= 1 && bandPermille <= 1000,
      s"bandPermille must be in [1, 1000], got $bandPermille")
    // bands are absolute multiples of bandPermille (jp − jp mod band),
    // so a misaligned low cut would truncate and mislabel its lowest
    // band (low 725, band 50: jp ∈ [725, 749] reported as "700" with
    // half the band's range missing) — reject instead of under-count
    require(lowPermille % bandPermille == 0,
      s"lowPermille must be a multiple of bandPermille, got $lowPermille % $bandPermille")
    ngramCountPairs(docs, id, text, operators.GramPairs.Jaccard(lowPermille), n, maxBucket)
      .select(expr("common * 1000 div (na + nb - common)").as("jp"))
      .select((col("jp") - (col("jp") % bandPermille)).as("band_lo"))
      .groupBy("band_lo")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The int64 gram FINGERPRINT every inverted-index join keys on
    * (round 13): xxhash64 of the gram text, computed row-locally at
    * the explode. A word-3-gram averages ~20–30 UTF-8 bytes and the
    * candidate joins ship every occurrence of it through an
    * exchange; an 8-byte long narrows those exchanges severalfold,
    * hashes/compares in one instruction, and shrinks every
    * gram-keyed temp-parquet write (the round-12 driver first-touch
    * ledger's top rows were exactly these builds). Gram TEXT stays
    * only in the two source-of-truth tables ([[docGramArrays]],
    * [[gramDocFreq]]) — consumers fingerprint on read.
    *
    * Collision stance: two distinct grams share a fingerprint with
    * probability ≈ V²/2⁶⁵ for vocabulary V — ~7e-7 at the sf0.1
    * vocabulary (5e6 grams), ~3 expected collisions GLOBALLY at a
    * 100 TB-scale V = 10¹⁰. A collision merges two grams' index
    * buckets (one gram of overlap mis-counted for the colliding
    * pair's co-documents) — the standard fingerprinting trade every
    * production dedup pipeline makes; the exact-text path is always
    * available by handing n-gram arrays to the set facades. */
  private def gramFp(gram: Column): Column = xxhash64(gram)

  /** One (doc_id, na, gf) row per distinct gram of a (doc_id, na, ga)
    * gram-set table: a side of the [[operators.GramPairs]] pipeline.
    * `na` is row-local (the size of the distinct-gram array before the
    * explode), so no per-doc aggregate or per-doc-scale join sizes it. */
  private def gramRows(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), col("na"), explode(col("ga")).as("gram"))
      .select(col("doc_id"), col("na"), gramFp(col("gram")).as("gf"))

  /** The capped recount of both n-gram faces: a side's rows without the
    * `hot` (gf) grams, each doc re-sized over the grams it keeps. The
    * post-cap sizes genuinely need an aggregate; it round-trips through
    * the shared capped_gram_sizes table, so a join broadcasts it only
    * if it really is small. */
  private def cappedRows(rows: DataFrame, hot: DataFrame): DataFrame = {
    val kept = keptGrams(rows, hot)
    kept.join(keptGramSizes(kept), "doc_id").select(col("doc_id"), col("n_grams").as("na"), col("gf"))
  }

  private def keptGrams(rows: DataFrame, hot: DataFrame): DataFrame =
    rows.select("doc_id", "gf").join(broadcast(hot), Seq("gf"), "left_anti")

  private def keptGramSizes(kept: DataFrame): DataFrame =
    TempTables.shared("capped_gram_sizes",
      kept.groupBy("doc_id").agg(count(lit(1)).as("n_grams")))()

  /** The shared [[gramDocFreq]] table keyed by [[gramFp]]: (gf, gdf).
    * It is also the skew guard's per-bucket size table for an UNCAPPED
    * gram self-join: each doc contributes its DISTINCT grams, so
    * rows-per-gram IS the gram's document frequency, and the
    * hot-bucket count pass (one full corpus-scale aggregate) collapses
    * to a vocab-scale parquet read — decomposition-only, so the pair
    * set never depends on it. Capped, every survivor's gdf ≤ cap «
    * maxBucket, so no bucket can be hot and the inline count pass is
    * the cheap one. */
  private def gramFpDocFreq(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    gramDocFreq(docs, id, text, n).select(gramFp(col("gram")).as("gf"), col("gdf"))

  /** The post-cap per-doc distinct-gram recount (doc_id, n_grams) of
    * the self face: every gram whose corpus document frequency exceeds
    * `maxGramDocFreq` dropped. A deterministic function of (docs, n,
    * maxGramDocFreq), shared per input like the tables it is counted
    * from. */
  def cappedGramSizes(docs: DataFrame, id: Column, text: Column, n: Int,
                      maxGramDocFreq: Int): DataFrame = {
    require(maxGramDocFreq != Int.MaxValue,
      "cappedGramSizes is the lossy-cap recount — with the cap off, sizes are row-local")
    keptGramSizes(keptGrams(gramRows(docGramArrays(docs, id, text, n)),
                            stopGrams(docs, id, text, n, maxGramDocFreq)))
  }

  /** (gf) of every gram in more than `maxGramDocFreq` documents, read
    * from the shared [[gramDocFreq]] table: the self face's hot list. */
  private def stopGrams(docs: DataFrame, id: Column, text: Column, n: Int,
                        maxGramDocFreq: Int): DataFrame =
    gramDocFreq(docs, id, text, n).filter(col("gdf") > maxGramDocFreq)
      .select(gramFp(col("gram")).as("gf"))

  /** (doc_id, na = |set|, ga = the distinct word-n-grams) per document
    * with at least n tokens: the one gram-set expression of the n-gram
    * family. Docs shorter than n tokens carry no row ("no n-gram →
    * never pairs / never counted"). */
  private def gramSets(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val t = split(text, " ")
    docs.select(id.cast("long").as("doc_id"), t.as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"),
              array_distinct(functions.TokenNGrams.ngrams(col("t"), n)).as("ga"))
      .select(col("doc_id"), size(col("ga")).cast("long").as("na"), col("ga"))
  }

  /** The per-document distinct word-n-gram ARRAY table
    * (doc_id, na = |set|, ga = the distinct n-grams) — the ONE
    * tokenize→n-gram→distinct pass the whole gram family derives
    * from, a [[TempTables.shared]] table: every gram-family facade
    * over the same (docs, n) — [[gramDocFreq]], [[rarityGramArrays]],
    * the pair, containment and novelty facades — explodes this one
    * parquet column instead of re-running the corpus-scale pass. */
  def docGramArrays(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame = {
    TempTables.shared("doc_gram_arrays", gramSets(docs, id, text, n))()
  }

  /** Per-gram document frequency (gram, gdf) over the distinct
    * word-n-grams of a corpus — the table the whole n-gram family
    * prices candidates with ([[jaccardJoinPrefix]]'s rarity order,
    * the stop-gram hot list of the capped facades, the skew guard's
    * bucket sizes). A [[TempTables.shared]] table aggregated from the
    * shared [[docGramArrays]]; output is vocab-scale metadata. */
  def gramDocFreq(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame = {
    TempTables.shared("gram_doc_freq", gramCounts(docGramArrays(docs, id, text, n)))()
  }

  /** (gram, gdf) over the `ga` arrays of a [[docGramArrays]] table or
    * any row subset of it — the one df aggregate [[gramDocFreq]] and
    * per-slice callers (q_gramdf_merge) share. One
    * map-side-combinable groupBy. */
  private[graft] def gramCounts(docGrams: DataFrame): DataFrame =
    docGrams.select(explode(col("ga")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("gdf"))

  /** The span-cutting expression shared by [[duplicatedSpanStats]]
    * and PipelineOps.q_span_drop — ONE definition of what a "span"
    * is, so the accounting and removal stages can never drift: the
    * array of `spanTokens`-token span strings cut from token array
    * `t` at starts 0, stride, 2·stride … while start + span ≤ n.
    * Row-local; the CALLER must pre-filter `size(t) >= spanTokens`
    * (a negative sequence() stop would count down). */
  def tokenSpans(t: Column, spanTokens: Int, stride: Int): Column = {
    // no 0-as-spanTokens sentinel HERE (that convenience lives in
    // duplicatedSpanStats): a raw 0 would divide by zero into a NULL
    // sequence and silently produce zero spans per row
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    transform(
      sequence(lit(0), floor((size(t) - spanTokens) / stride).cast("int")),
      i => array_join(slice(t, i * stride + 1, lit(spanTokens)), " "))
  }

  /** ASYMMETRIC near-dup pairs by n-gram CONTAINMENT — the doc-in-doc
    * case Jaccard structurally misses: a short document embedded in a
    * much longer one has tiny Jaccard (union is dominated by the long
    * doc) but containment |A∩B| / min(|A|,|B|) ≈ 1. This is the
    * quote/wrapper/boilerplate-page detector a corpus pipeline runs
    * NEXT TO [[nearDupPairsNgram]], not instead of it.
    *
    * The [[operators.GramPairs]] pipeline under the containment
    * measure: blocked inverted-index candidates (never all-pairs) with
    * no size-ratio prune, since the asymmetric pairs that prune exists
    * to discard are exactly this operator's positives. Uncapped, it
    * runs the prefix path with every gram indexed: the positional
    * bound cuts collisions before the candidate distinct (measured at
    * sf0.1, t = 0.8: 1,265,779 collisions → 152,982 → 148,647 pairs to
    * verify). The lossy `maxGramDocFreq` cap changes the gram universe
    * and takes the count path. Work stays ∝ Σ bucket². A dense
    * MUTUAL-containment cluster
    * (boilerplate: every pair a true positive) makes the OUTPUT
    * itself Θ(hot²) — no exact guard can beat work that IS the
    * output, as the skew bench measures (max task equal guarded vs
    * not) — so the remedy there is the LOSSY `maxGramDocFreq` cap
    * ([[nearDupPairsNgram]]'s stop-gram knob, same semantics change:
    * capped grams leave the universe before anything quadratic).
    * Output: (doc_a, doc_b, na, nb, common, containment_permille) at
    * containment ≥ thresholdPermille/1000 — all-integer (rule F),
    * permille = 1000·common div min(na, nb) (pure integer floor-div,
    * immune to the IEEE boundary-crossing a double divide risks). */
  def containmentPairsNgram(docs: DataFrame, id: Column, text: Column,
                            thresholdPermille: Int = 800, n: Int = 3,
                            maxBucket: Int = 1024,
                            maxGramDocFreq: Int = Int.MaxValue): DataFrame = {
    require(maxGramDocFreq >= 1, s"maxGramDocFreq must be >= 1, got $maxGramDocFreq")
    val m = operators.GramPairs.Containment(thresholdPermille)
    m.report(
      if (maxGramDocFreq == Int.MaxValue)
        // long sizes, as the count path's: they are output columns; the
        // full-array index makes the gram-df table the bucket sizes
        operators.GramPairs.prefixPairs(
          rarityGramArrays(docs, id, text, n).withColumn("na", col("na").cast("long")),
          None, m, maxBucket, Some(gramFpDocFreq(docs, id, text, n)))
      else ngramCountPairs(docs, id, text, m, n, maxBucket, maxGramDocFreq))
  }

  /** The ranked+tokenized projection [[sortedNeighborPairs]]
    * self-joins: per doc (__id, __ts = distinct tokens, __r = exact
    * 1-based rank under (sortKey ASC, id ASC) via the two-pass
    * distributed [[globalRankDesc]]) — a [[TempTables.shared]] table:
    * both sides of the neighbor join read it, so the corpus tokenize
    * (split + distinct) and the rank join run once per input, not once
    * per side per call. */
  def sortedNeighborProjection(docs: DataFrame, id: Column, text: Column,
                               sortKey: Column): DataFrame = {
    val base = docs.select(id.cast("long").as("__id"), sortKey.as("__k"),
                           array_distinct(split(text, " ")).as("__ts"))
    // globalRankDesc ranks key DESC; negate for ascending key order
    val ranked = globalRankDesc(base.select(col("__id"), col("__k")),
                                negate(col("__k").cast("double")), col("__id"))
      .select(col("tie").as("__id"), col("rank").as("__r"))
    TempTables.shared("sorted_neighbor_projection", base.drop("__k").join(ranked, "__id"))()
  }

  /** Sorted-neighborhood near-dup pairs (Hernández–Stolfo SNM) — the
    * THIRD blocking family next to the inverted-index
    * ([[nearDupPairsNgram]]) and LSH ([[nearDupPairsMinhash]])
    * candidate generators: order the corpus by a blocking key, pair
    * each row with its next `w−1` neighbors in that order, verify
    * exact token-set Jaccard ≥ thresholdPermille/1000. Recall is
    * whatever the key's locality buys (classic SNM runs several
    * passes with different keys); what it buys BACK is a skew-immune
    * cost model: every doc pairs with EXACTLY w−1 neighbors —
    * candidate volume is n·(w−1) by construction, no bucket can go
    * quadratic, no guard needed.
    *
    * Scale shape: ranks via the two-pass distributed
    * [[globalRankDesc]] (range-bucketed — no single-partition
    * window), then ONE equi-join on rank+d (d exploded 1..w−1) and a
    * row-local exact-Jaccard verify; integer threshold
    * inter·1000 ≥ p·union, jaccard reported rounded 3 like the other
    * pair facades. Returns (doc_a, doc_b, jaccard) with doc_a before
    * doc_b in key order. */
  def sortedNeighborPairs(docs: DataFrame, id: Column, text: Column,
                          sortKey: Column, w: Int = 8,
                          thresholdPermille: Int = 800): DataFrame = {
    require(w >= 2, s"w must be >= 2, got $w")
    require(thresholdPermille > 0 && thresholdPermille <= 1000,
      s"thresholdPermille must be in (0, 1000], got $thresholdPermille")
    val p = thresholdPermille
    val sortedT = sortedNeighborProjection(docs, id, text, sortKey)
    val probes = sortedT
      .select(col("__id").as("doc_a"), col("__ts").as("__ta"), col("__r"),
              explode(sequence(lit(1), lit(w - 1))).as("__d"))
      .select(col("doc_a"), col("__ta"), (col("__r") + col("__d")).as("__nr"))
    probes
      .join(sortedT.select(col("__id").as("doc_b"), col("__ts").as("__tb"),
                          col("__r").as("__nr")), "__nr")
      .select(col("doc_a"), col("doc_b"),
              size(array_intersect(col("__ta"), col("__tb"))).as("__i"),
              (size(col("__ta")) + size(col("__tb"))
                 - size(array_intersect(col("__ta"), col("__tb")))).as("__u"))
      .filter(col("__i") * 1000 >= col("__u") * p)
      .select(col("doc_a"), col("doc_b"),
              round(col("__i") / col("__u"), 3).as("jaccard"))
  }

  /** BIPARTITE n-gram Jaccard near-dup pairs: every (corpus doc, new
    * doc) pair with exact Jaccard ≥ threshold — the INCREMENTAL
    * ingestion face of [[nearDupPairsNgram]]. At 100 TB you do not
    * re-run the O(corpus²) self-join when a batch arrives; you probe
    * the new batch against the standing inverted gram index, which is
    * work ∝ Σ_gram (corpus-bucket × new-bucket) — linear in the new
    * batch for a fixed index. Output: (doc_a = corpus id,
    * doc_b = new id, jaccard rounded 3).
    *
    * The same [[operators.GramPairs]] count path as the self-join,
    * with the bipartite candidate kernel. Uncapped, both sides are lazy
    * projections of the caller's DataFrames. `maxGramDocFreq` (default
    * off) is the lossy stop-gram cap; the CORPUS side defines the
    * hot-gram list (the index is built once) and both sides drop the
    * same grams, keeping Jaccard symmetric; each side's recount then
    * round-trips through a capped_gram_sizes table. */
  def nearDupPairsNgramAgainst(corpus: DataFrame, corpusId: Column, corpusText: Column,
                               newDocs: DataFrame, newId: Column, newText: Column,
                               thresholdPermille: Int = 800, n: Int = 3,
                               maxBucket: Int = 1024,
                               maxGramDocFreq: Int = Int.MaxValue): DataFrame = {
    require(maxGramDocFreq >= 1, s"maxGramDocFreq must be >= 1, got $maxGramDocFreq")
    val m = operators.GramPairs.Jaccard(thresholdPermille)
    val c = gramRows(gramSets(corpus, corpusId, corpusText, n))
    val b = gramRows(gramSets(newDocs, newId, newText, n))
    val (cs, bs) =
      if (maxGramDocFreq == Int.MaxValue) (c, b)
      else {
        val hot = hotKeys(c, Seq("gf"), maxGramDocFreq)
        (cappedRows(c, hot), cappedRows(b, hot))
      }
    m.report(operators.GramPairs.countPairs(cs, Some(bs), m, maxBucket))
  }

  /** EXACT prefix-filtered Jaccard self-join (the AllPairs / PPJoin
    * prefix-filter family — Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): same output contract as [[nearDupPairsNgram]] —
    * (doc_a, doc_b, jaccard rounded 3) for exact word-n-gram Jaccard
    * ≥ thresholdPermille/1000, doc_a < doc_b — but candidates come
    * from a PREFIX inverted index over the shared [[rarityGramArrays]]
    * table: the prefix path of [[operators.GramPairs]], whose prefix
    * theorem and positional bound make it exact at any threshold,
    * unlike the lossy `maxGramDocFreq` stop-gram cap.
    *
    * Why this is the 100 TB shape: the index shrinks to the
    * ~(1−t) rarest fraction of each doc, and candidate work
    * Σ bucket² shrinks doubly — fewer entries AND the surviving
    * buckets are the rarest grams by construction. True stop-grams
    * (the Σ bucket² killers) sort LAST in rarity order and never
    * enter a prefix at any realistic t. Docs shorter than n tokens
    * have no n-gram and never pair. */
  def jaccardJoinPrefix(docs: DataFrame, id: Column, text: Column,
                        thresholdPermille: Int = 800, n: Int = 3,
                        maxBucket: Int = 1024): DataFrame = {
    val m = operators.GramPairs.Jaccard(thresholdPermille)
    m.report(operators.GramPairs.prefixPairs(rarityGramArrays(docs, id, text, n), None, m, maxBucket))
  }

  /** The rarity-SORTED per-document gram-fingerprint table
    * (doc_id, gs = int64 [[gramFp]] fingerprints sorted by (gdf asc,
    * fp asc), na = |set|) — the ONE table the whole prefix-filter
    * family reads: [[jaccardJoinPrefix]]'s index and verify joins,
    * [[containmentPairsNgram]]'s positional path, and
    * [[jaccardPrefixAgainst]]'s both sides (slices of this one table).
    *
    * The struct sort on (gdf, gf) is ONE total order every document
    * agrees on — prefix-filter exactness needs SOME consistent total
    * order, not a particular one, and the int64 fingerprint arrays
    * make the write and the verify intersections ~3× narrower than
    * gram strings. The table carries only (doc_id, gs, na): a
    * threshold-dependent prefix is a row-local slice of gs, cheaper
    * to re-derive on read than to bake one t into the table. A
    * [[TempTables.shared]] parquet table rather than localCheckpoint
    * because THREE joins consume it and an RDD-backed scan's
    * defaultSizeInBytes would cost them their broadcast option
    * (q_jaccard_prefix ran 2.7–2.9× over its median for two rounds on
    * exactly that stats loss). The rarity order is the shared
    * [[gramDocFreq]] table; one corpus-scale groupBy over the shared
    * [[docGramArrays]]; docs shorter than n tokens carry no row. */
  def rarityGramArrays(docs: DataFrame, id: Column, text: Column,
                       n: Int = 3): DataFrame = {
    val grams = gramRows(docGramArrays(docs, id, text, n)).select("doc_id", "gf")
    TempTables.shared("rarity_gram_arrays",
      grams.join(gramFpDocFreq(docs, id, text, n), "gf")
        .groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("gdf"), col("gf")))).as("sg"))
        .select(col("doc_id"),
                transform(col("sg"), s => s.getField("gf")).as("gs"),
                size(col("sg")).as("na")))()
  }

  /** BIPARTITE prefix-filtered Jaccard join — [[jaccardJoinPrefix]]'s
    * incremental-ingest face and [[nearDupPairsNgramAgainst]]'s
    * prefix-indexed upgrade: every (corpus doc, batch doc) pair with
    * exact word-n-gram Jaccard ≥ thresholdPermille/1000, candidates
    * drawn from the PREFIX inverted index on BOTH sides — the
    * [[operators.GramPairs]] prefix path with the bipartite candidate
    * kernel. At 100 TB the standing corpus keeps its
    * [[rarityGramArrays]] table warehouse-resident; a new crawl batch
    * builds (or slices) its own rows of the SAME table and probes —
    * work ∝ prefix-bucket products, linear in the batch for a fixed
    * index (measured on the sf0.1 mod-2 documents split at t = 0.8: the
    * full bipartite index yields 234,804 size-pruned collisions →
    * 201,226 pairs to verify; the prefix index 22,943 collisions →
    * 7,015 after the positional filter → 6,393 pairs — a 10× collision
    * cut and a 31× verify cut).
    *
    * PRECONDITION: both sides must be slices of ONE
    * [[rarityGramArrays]] table (the prefix theorem needs one rarity
    * order). Overlapping doc ids emit self-pairs (doc_a = doc_b,
    * J = 1.0); hand DISJOINT slices, as an ingest pipeline naturally
    * does. */
  def jaccardPrefixAgainst(corpusSorted: DataFrame, batchSorted: DataFrame,
                           thresholdPermille: Int = 800,
                           maxBucket: Int = 1024): DataFrame = {
    val m = operators.GramPairs.Jaccard(thresholdPermille)
    m.report(operators.GramPairs.prefixPairs(corpusSorted, Some(batchSorted), m, maxBucket))
  }

  /** Drops every `keyCols` bucket holding more than `cap` rows — the
    * LOSSY dense-band cap of the LSH candidate joins (the inverted
    * index's stop-gram cap must also recount per-doc sizes after the
    * drop: [[cappedRows]]). Only keys ABOVE the cap ship (Zipf-bounded
    * metadata) and the input streams out through a broadcast anti-join.
    * `cap == Int.MaxValue` is the zero-cost identity. */
  private def dropHotBuckets(df: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    if (cap == Int.MaxValue) df
    else df.join(broadcast(hotKeys(df, keyCols, cap)), keyCols, "left_anti")

  /** The `keyCols` values of more than `cap` rows of `df`, found by one
    * map-side-combined count pass. */
  private def hotKeys(df: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > cap)
      .select(keyCols.map(col): _*)

  /** The canonical-string blocking projection [[fuzzyDupPairs]]
    * self-joins: per doc the fixed-name working set (fz_p0.. =
    * `partitionBy` values, doc_id, fz_s = sorted distinct tokens
    * joined by one space, fz_tok0 = first canon token, fz_n =
    * distinct-token count), empty-canon rows dropped — a
    * [[TempTables.shared]] table: the canon is a full tokenize + sort +
    * distinct per document, and the blocked self-join evaluates its
    * input THREE times (the hot-bucket count pass and both join
    * sides), so it is written once per input and read three times. */
  def fuzzyCanonProjection(docs: DataFrame, id: Column, text: Column,
                           partitionBy: Seq[Column] = Nil): DataFrame = {
    // the fresh projection carries ONLY these fixed names, so caller
    // column names cannot collide with the working set
    val canon = array_join(array_sort(array_distinct(split(text, " "))), " ")
    val parts = partitionBy.zipWithIndex.map { case (c, i) => c.as(s"fz_p$i") }
    TempTables.shared("fuzzy_canon_projection",
      docs
        .select(parts :+ id.cast("long").as("doc_id") :+ canon.as("fz_s"): _*)
        .filter(length(col("fz_s")) > 0)
        .withColumn("fz_tok0", substring_index(col("fz_s"), " ", 1))
        .withColumn("fz_n", size(split(col("fz_s"), " "))))()
  }

  /** Edit-distance near-dup pairs over ANY (id, text) DataFrame:
    * (doc_a, doc_b, edit_dist) for Levenshtein distance ≤ `maxDist`
    * between the documents' CANONICAL strings — the sorted distinct
    * tokens joined by one space — doc_a < doc_b, unordered. The canon
    * makes the distance word-order- and repetition-invariant (a
    * reordered or partially re-worded doc stays close; raw-text
    * Levenshtein would see a reordering as a rewrite), which is the
    * useful fuzzy-dedup semantics for a bag-of-words corpus.
    *
    * Candidates are BLOCKED, never all-pairs: two docs are compared
    * only when they agree on every `partitionBy` column (caller's
    * dedup domains, e.g. language), their canon's FIRST token, and
    * their distinct-token COUNT. First-token/size agreement is a
    * deliberate approximate-blocking trade (a pair whose edit path
    * crosses a block boundary is unseen — declared semantics, same
    * stance as LSH banding); within a block the pair set is exact.
    * Work is ∝ Σ block², and a hot block (one dominant first token at
    * 100× data) is BLOCK-DECOMPOSED by
    * [[operators.SkewJoin.blockedSelfPairs]] so per-task input stays
    * ≈ `maxBucket` rows at any block size. The distance itself runs
    * through Spark's threshold form `levenshtein(a, b, maxDist)` —
    * the banded O(maxDist·len) early-exit algorithm, not the full
    * O(len²) matrix, so a non-match costs little more than a length
    * check. Canon strings ride the candidate exchange once; ids are
    * the only other payload. */
  def fuzzyDupPairs(docs: DataFrame, id: Column, text: Column,
                    partitionBy: Seq[Column] = Nil,
                    maxDist: Int = 8,
                    maxBucket: Int = 1024): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val base = fuzzyCanonProjection(docs, id, text, partitionBy)
    val bucketCols = partitionBy.indices.map(i => s"fz_p$i") ++ Seq("fz_tok0", "fz_n")
    operators.SkewJoin.blockedSelfPairs(base, bucketCols, "doc_id", maxBucket)
      .withColumn("edit_dist", levenshtein(col("fz_s_a"), col("fz_s_b"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
              col("edit_dist"))
  }

  /** The set-collapse GROUPS table [[nearDupPairsMinhash]] consumes —
    * [[minhashGroupPlan]] over the corpus. fanOutForCompute before
    * the 64-permutation signature stage (guide §2.5): the sig is
    * ~NumPerms hashes per token and otherwise serializes on a
    * single-split local scan. A [[TempTables.shared]] table: five plan
    * branches of [[nearDupPairsMinhash]] consume it (banding, both sig
    * re-attach joins, both member-expansion joins), and the inline
    * form re-ran the corpus scan + signature pass + set-collapse
    * shuffle once PER BRANCH (measured ~5.5 s steady at
    * sf0.1/local[32]). It is distinct-set-scale, so the parquet round
    * trip is metadata-sized and its file stats keep every downstream
    * join broadcast-able. */
  def minhashGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    TempTables.shared("minhash_groups",
      minhashGroupPlan(fanOutForCompute(tokenSets(docs, id, text))))()

  /** (doc_id, toks = sorted distinct tokens) per row of non-NULL text
    * (xxhash64 maps NULL input to its seed, so without the filter every
    * null-text doc would share one collapse group and be reported as
    * exact duplicates of each other). */
  private def tokenSets(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.filter(text.isNotNull)
      .select(id.cast("long").as("doc_id"), array_sort(array_distinct(split(text, " "))).as("toks"))

  /** One row per DISTINCT token set of a [[tokenSets]] table: (rep =
    * min doc_id, members = all doc_ids sharing the set, sig = the
    * 64-permutation row-local [[functions.MinHashSig]] signature). The
    * set-collapse key is the 128-bit [[spanHash]] pair of the canonical
    * sorted-token string, hashed ROW-LOCALLY — the canonical text
    * itself never shuffles; identical sets produce identical signatures
    * by construction, so `first(sig)` per group is deterministic. */
  private def minhashGroupPlan(sets: DataFrame): DataFrame =
    sets.select(Seq(col("doc_id"), functions.MinHashSig.sig(col("toks")).as("sig")) ++
                spanHash(array_join(col("toks"), " ")): _*)
      .groupBy("h1", "h2")
      .agg(min("doc_id").as("rep"), collect_list("doc_id").as("members"),
           first("sig").as("sig"))
      .select("rep", "members", "sig")

  /** The MinHash pair pipeline under both faces, over
    * [[minhashGroupPlan]] tables: LSH band-bucket candidates on hashed
    * band keys (never all-pairs), with `a`'s band buckets over
    * `maxBandDocFreq` reps dropped; the kernel pairs `a` with itself
    * ([[operators.SkewJoin.blockedSelfPairs]], rep_a < rep_b) or with
    * `b` ([[operators.SkewJoin.blockedBipartiteJoin]], `a` the large
    * side), block-decomposing band buckets over `maxBucket` reps; then
    * signatures re-attach to surviving rep pairs only, the exact
    * integer estimate filter matches·1000 ≥ p·NumPerms applies, and the
    * rep pairs expand to doc pairs (da from a's members, db from b's).
    * The band keys are one xxhash64(band, slice) for both faces, so a
    * standing corpus index and a fresh batch agree on bucket identity.
    *
    * PLAIN equi-joins, no broadcast hints: the group tables are
    * corpus-scale, and a forced broadcast is the could-not-fit-at-100TB
    * shape; the surviving-pair side is pair-scale, so AQE broadcasts
    * the other side when one truly is small. */
  private def minhashPairs(a: DataFrame, b: Option[DataFrame], estPermille: Int,
                           maxBucket: Int, maxBandDocFreq: Int): DataFrame = {
    def bands(g: DataFrame): DataFrame =
      g.select(col("rep"),
          posexplode(transform(sequence(lit(0), lit(MinHash.NumBands - 1)),
            i => slice(col("sig"), i * MinHash.RowsPerBand + 1, lit(MinHash.RowsPerBand)))))
        .select(col("rep"), xxhash64(col("pos"), col("col")).as("bucket"))
    val aBands = dropHotBuckets(bands(a), Seq("bucket"), maxBandDocFreq)
    val repPairs = (b match {
      case None => operators.SkewJoin.blockedSelfPairs(aBands, Seq("bucket"), "rep", maxBucket)
      case Some(bg) =>
        operators.SkewJoin.blockedBipartiteJoin(aBands.withColumnRenamed("rep", "rep_a"), "rep_a",
          bands(bg).withColumnRenamed("rep", "rep_b"), Seq("bucket"), maxBucket)
    }).select(col("rep_a"), col("rep_b")).distinct()
    val bg = b.getOrElse(a)
    val matches = functions.ArrayMatchCount.matchCount(col("sig_a"), col("sig_b"))
    repPairs
      .join(a.select(col("rep").as("rep_a"), col("sig").as("sig_a")), "rep_a")
      .join(bg.select(col("rep").as("rep_b"), col("sig").as("sig_b")), "rep_b")
      .filter(matches * 1000 >= lit(estPermille * MinHash.NumPerms))
      .select(col("rep_a"), col("rep_b"),
              round(matches.cast("double") / MinHash.NumPerms, 3).as("est_jaccard"))
      .join(a.select(col("rep").as("rep_a"), col("members").as("ms_a")), "rep_a")
      .join(bg.select(col("rep").as("rep_b"), col("members").as("ms_b")), "rep_b")
      .select(explode(col("ms_a")).as("da"), col("ms_b"), col("est_jaccard"))
      .select(col("da"), explode(col("ms_b")).as("db"), col("est_jaccard"))
  }

  /** MinHash/LSH near-dup pairs over ANY (id, text) DataFrame:
    * (doc_a, doc_b, est_jaccard rounded 3) for estimated Jaccard ≥
    * estPermille/1000 (matching-signature fraction of
    * [[MinHash.NumPerms]] permutations), doc_a < doc_b, unordered.
    * Scale shape (the one the oracle-verified q_dedup_minhash runs):
    * identical token SETS collapse to one representative before
    * anything quadratic ([[minhashGroups]]), so no corpus self-join on
    * document text exists anywhere; one ROW-LOCAL signature per
    * document via the native codegen'd [[functions.MinHashSig]]
    * expression (bit-identical to the streaming [[MinHash]]
    * Aggregator, which remains the token-at-a-time arrival variant);
    * the self face of [[minhashPairs]]; set-level pairs expand back to
    * doc-level pairs (within-group pairs are exact dups, est 1.0).
    *
    * `maxBandDocFreq` (default off) is the LOSSY dense-band cap, the
    * band-join sibling of [[nearDupPairsNgram]]'s stop-gram cap: band
    * buckets holding more than that many set representatives leave
    * the candidate universe BEFORE anything quadratic. Unlike the
    * gram cap it never changes a surviving pair's score (estimates
    * come from the full signatures after candidates are found) — it
    * only loses CANDIDATE RECALL for pairs whose every colliding band
    * was dropped; a bucket that dense is boilerplate whose pairs the
    * downstream drop stage would collapse anyway. Opt-in, never a
    * silent default. Exact-dup pairs (identical token sets) bypass
    * banding entirely and always survive. NULL-text rows are
    * excluded. */
  def nearDupPairsMinhash(docs: DataFrame, id: Column, text: Column,
                          estPermille: Int = 900,
                          maxBucket: Int = 1024,
                          maxBandDocFreq: Int = Int.MaxValue): DataFrame = {
    require(estPermille > 0 && estPermille <= 1000,
      s"estPermille must be in (0, 1000], got $estPermille")
    require(maxBandDocFreq >= 1, s"maxBandDocFreq must be >= 1, got $maxBandDocFreq")
    val g = minhashGroups(docs, id, text)
    val crossDocs = minhashPairs(g, None, estPermille, maxBucket, maxBandDocFreq)
      .select(least(col("da"), col("db")).as("doc_a"),
              greatest(col("da"), col("db")).as("doc_b"), col("est_jaccard"))
    // within-group exact-dup pairs from the ALREADY-grouped member
    // lists — no second corpus self-join at all: an array self-product
    // of each metadata-scale member list, filtered to the ordered half
    val intraDocs = g.select(col("members"))
      .filter(size(col("members")) >= 2)
      .select(explode(col("members")).as("doc_a"), col("members"))
      .select(col("doc_a"), explode(col("members")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("est_jaccard"))
    crossDocs.union(intraDocs)
  }

  /** INCREMENTAL MinHash probe — the MinHash face of the
    * batch-vs-corpus ingest story [[nearDupPairsNgramAgainst]] covers
    * for the inverted index: every CROSS pair (batch doc, corpus doc)
    * whose estimated Jaccard reaches estPermille/1000, without ever
    * re-pairing the corpus against itself. In production the corpus
    * side is a STANDING signature/band index read from the warehouse
    * (signatures and band keys are row-local functions of each doc, so
    * the index appends per crawl without recompute — the same
    * mergeable-statistics posture as q_gramdf_merge); here both sides
    * derive from their DataFrames (no shared table) so the equivalence
    * is testable.
    *
    * The bipartite face of [[minhashPairs]] (corpus = large side; a
    * dense band splits into id-hash blocks and batch rows replicate
    * across them, so one boilerplate band cannot serialize a task).
    * `maxBandDocFreq` drops bands dense ON THE CORPUS SIDE before the
    * join (the standing side is where boilerplate accumulates; a batch
    * band colliding only there finds no partner); opt-in,
    * recall-lossy, like the self variant. With the cap off, output =
    * [[nearDupPairsMinhash]] of (batch ∪ corpus) restricted to cross
    * pairs — pinned in MinHashSpec. Returns (batch_id, corpus_id,
    * est_jaccard).
    *
    * Id-overlap contract: the two sides are expected DISJOINT (an
    * ingest probe's natural state). If a doc id appears on both sides
    * it is the SAME document seen twice, and its degenerate (x, x)
    * "cross pair" at est_jaccard 1.0 is filtered from the output
    * rather than reported as a duplicate of itself; its genuine cross
    * pairs with OTHER docs are unaffected. */
  def nearDupPairsMinhashAgainst(batch: DataFrame, batchId: Column, batchText: Column,
                                 corpus: DataFrame, corpusId: Column, corpusText: Column,
                                 estPermille: Int = 900,
                                 maxBucket: Int = 1024,
                                 maxBandDocFreq: Int = Int.MaxValue): DataFrame = {
    require(estPermille > 0 && estPermille <= 1000,
      s"estPermille must be in (0, 1000], got $estPermille")
    require(maxBandDocFreq >= 1, s"maxBandDocFreq must be >= 1, got $maxBandDocFreq")
    minhashPairs(minhashGroupPlan(tokenSets(corpus, corpusId, corpusText)),
        Some(minhashGroupPlan(tokenSets(batch, batchId, batchText))),
        estPermille, maxBucket, maxBandDocFreq)
      .select(col("db").as("batch_id"), col("da").as("corpus_id"), col("est_jaccard"))
      .filter(col("batch_id") =!= col("corpus_id"))
  }

  /** Benchmark decontamination over ANY corpus/eval pair: corpus docs
    * whose distinct word-n-gram overlap with an eval doc covers ≥
    * coveragePermille/1000 of that eval doc's grams. Returns
    * (doc_id, eval_id, common, n_eval), unordered. The eval side is
    * small by definition, so its gram index is BROADCAST and the
    * corpus streams through one map-side join — the scale-correct
    * asymmetry. */
  def decontaminate(corpus: DataFrame, corpusId: Column, corpusText: Column,
                    eval: DataFrame, evalId: Column, evalText: Column,
                    n: Int = 3, coveragePermille: Int = 500): DataFrame = {
    require(coveragePermille > 0 && coveragePermille <= 1000,
      s"coveragePermille must be in (0, 1000], got $coveragePermille")
    def grams(df: DataFrame, id: Column, text: Column, idName: String): DataFrame =
      gramSets(df, id, text, n).select(col("doc_id").as(idName), explode(col("ga")).as("gram"))
    val evalGrams = grams(eval, evalId, evalText, "eval_id")
    val evalSizes = evalGrams.groupBy("eval_id").agg(count(lit(1)).as("n_eval"))
    grams(corpus, corpusId, corpusText, "doc_id")
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("common"))
      .join(broadcast(evalSizes), "eval_id")
      .filter(col("common") * 1000 >= col("n_eval") * coveragePermille)
      .select(col("doc_id"), col("eval_id"), col("common"), col("n_eval"))
  }

  /** SimHash near-dup pairs over ANY (id, text) DataFrame:
    * (doc_a, doc_b, hamming) for Hamming distance ≤ maxHamming between
    * tf-weighted 64-bit SimHash fingerprints, doc_a < doc_b,
    * unordered: [[nearDupPairsHamming]] over row-local signatures.
    * Band buckets larger than `maxBucket` docs are block-decomposed, so
    * one dense 16-bit bucket at scale cannot serialize one quadratic
    * task.
    *
    * `maxBandDocFreq` (default off) is the LOSSY dense-band cap
    * ([[nearDupPairsMinhash]]'s sibling): band buckets holding more
    * than that many docs leave the candidate universe before pairing.
    * Surviving pairs keep their exact Hamming distance (computed from
    * the full signatures) — the cap only loses candidate recall for
    * pairs whose every colliding band was dropped. Opt-in, never a
    * silent default. */
  def nearDupPairsSimhash(docs: DataFrame, id: Column, text: Column,
                          maxHamming: Int = 3,
                          maxBucket: Int = 1024,
                          maxBandDocFreq: Int = Int.MaxValue): DataFrame = {
    // ROW-LOCAL native codegen signature (round 18): the previous
    // explode → groupBy(doc, token) → groupBy(doc, UDAF) shape ran TWO
    // corpus-token-scale shuffles per action to compute what is a
    // row-local function of the token multiset.
    // [[functions.SimHashSig]] fuses tf-counting + hash + 64 signed
    // bit-sums into one pass over the token array — bit-identical
    // signatures (±tf per distinct token ≡ ±1 per occurrence; integer
    // sums are order-free — pinned against the Aggregator in
    // PropertySpec). null-text docs are excluded exactly as explode
    // excluded them (split(NULL) rows). fanOutForCompute (guide §2.5)
    // spreads the signature mapper off a single-split local scan.
    // The trailing doc_id repartition is the SHARE POINT (guide §2.4):
    // the banded candidate join below consumes the signature table
    // from THREE plan branches (hot-bucket count pass + both join
    // sides), and an exchange directly above the projection lets
    // ReuseExchange evaluate the signature pass ONCE — the same role
    // the UDAF form's final-aggregate exchange used to play. 16-byte
    // rows; at any scale one narrow shuffle is cheaper than two extra
    // full signature passes.
    val sigs = fanOutForCompute(
        docs.filter(text.isNotNull)
          .select(id.cast("long").as("doc_id"), split(text, " ").as("toks")))
      .select(col("doc_id"), functions.SimHashSig.sig(col("toks")).as("sig"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
    nearDupPairsHamming(sigs, col("doc_id"), col("sig"),
      maxHamming, maxBucket, maxBandDocFreq)
  }

  /** The 16-bit band-bucket rows of every signature: (doc_id+suffix,
    * sig+suffix, band, key) for every band. */
  private def hammingBandRows(sigs: DataFrame, id: Column, sig: Column,
                              suffix: String): DataFrame = {
    val (idName, sigName) = (s"doc_id$suffix", s"sig$suffix")
    sigs.select(id.cast("long").as(idName), sig.cast("long").as(sigName))
      .select(col(idName), col(sigName),
              explode(sequence(lit(0), lit(SimHash.NumBands - 1))).as("band"))
      .select(col(idName), col(sigName), col("band"),
              expr(s"shiftrightunsigned($sigName, band * ${SimHash.BandBits}) & 65535")
                .as("key"))
  }

  /** The banded Hamming pair pipeline under both faces: band rows of
    * side `a` (suffix "" when self, "_a" against `b`'s "_b"), `a`'s
    * band buckets over `maxBandDocFreq` rows dropped, paired with
    * themselves ([[operators.SkewJoin.blockedSelfPairs]]) or with `b`
    * ([[operators.SkewJoin.blockedBipartiteJoin]], `a` the large side),
    * band buckets over `maxBucket` rows block-decomposed; then the exact
    * bit_count verify and one distinct over pairs that share several
    * bands. Returns (doc_a, doc_b, hamming). Candidates come from
    * [[SimHash.NumBands]] 16-bit band buckets, which have PERFECT recall
    * only for maxHamming ≤ NumBands−1 (pigeonhole) — larger radii are
    * rejected rather than silently losing pairs. */
  private def hammingPairs(a: DataFrame, b: Option[DataFrame], maxHamming: Int,
                           maxBucket: Int, maxBandDocFreq: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= SimHash.NumBands - 1,
      s"band LSH guarantees recall only for maxHamming <= ${SimHash.NumBands - 1}, " +
        s"got $maxHamming")
    require(maxBandDocFreq >= 1, s"maxBandDocFreq must be >= 1, got $maxBandDocFreq")
    val keys = Seq("band", "key")
    val aBands = dropHotBuckets(a, keys, maxBandDocFreq)
    (b match {
      case None     => operators.SkewJoin.blockedSelfPairs(aBands, keys, "doc_id", maxBucket)
      case Some(bs) => operators.SkewJoin.blockedBipartiteJoin(aBands, "doc_id_a", bs, keys, maxBucket)
    }).select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
              expr("bit_count(sig_a ^ sig_b)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Banded Hamming pairing over PRECOMPUTED 64-bit signatures — the
    * candidate machinery of [[nearDupPairsSimhash]] factored out so
    * any 64-bit fingerprint family can ride it (SimHash text
    * fingerprints, [[graft.multimodal.Multimodal.perceptualHash]]
    * media fingerprints): (doc_a, doc_b, hamming) for Hamming
    * distance ≤ maxHamming, doc_a < doc_b, unordered — the self face
    * of [[hammingPairs]]. Band key and Hamming are pure built-ins
    * (codegen-fused); rows stay two longs wide end-to-end;
    * `maxBandDocFreq` is the opt-in lossy dense-band cap documented on
    * the SimHash face. Ids must be unique and long-castable. */
  def nearDupPairsHamming(sigs: DataFrame, id: Column, sig: Column,
                          maxHamming: Int = 3,
                          maxBucket: Int = 1024,
                          maxBandDocFreq: Int = Int.MaxValue): DataFrame =
    hammingPairs(hammingBandRows(sigs, id, sig, ""), None, maxHamming, maxBucket, maxBandDocFreq)

  /** INCREMENTAL banded Hamming probe — the bipartite face of
    * [[hammingPairs]], completing the fingerprint family the way
    * [[nearDupPairsNgramAgainst]] / [[nearDupPairsMinhashAgainst]] /
    * [[semanticDupVerdictsIvfAgainst]] complete theirs: a NEW BATCH of
    * precomputed 64-bit signatures (SimHash text fingerprints,
    * [[graft.multimodal.Multimodal.perceptualHash]] media
    * fingerprints) is screened against a STANDING signature corpus
    * without re-pairing the corpus against itself, and without writing
    * a table for either side. The corpus is the large side — the
    * standing side is where a dense band accumulates; a hot band splits
    * into id-hash blocks and batch rows replicate across them.
    * `maxBandDocFreq` drops bands dense ON THE CORPUS SIDE before the
    * join (opt-in, recall-lossy — the [[nearDupPairsMinhashAgainst]]
    * stance).
    *
    * Id-overlap contract (same stance): sides are expected DISJOINT;
    * an id on both sides is the same document seen twice and its
    * degenerate (x, x) pair is filtered rather than reported as a
    * self-duplicate. With the cap off, output =
    * [[nearDupPairsHamming]] of the two sides' union restricted to
    * cross pairs — pinned in MultimodalSpec. Returns
    * (batch_id, corpus_id, hamming). */
  def nearDupPairsHammingAgainst(batch: DataFrame, batchId: Column, batchSig: Column,
                                 corpus: DataFrame, corpusId: Column, corpusSig: Column,
                                 maxHamming: Int = 3,
                                 maxBucket: Int = 1024,
                                 maxBandDocFreq: Int = Int.MaxValue): DataFrame =
    hammingPairs(hammingBandRows(corpus, corpusId, corpusSig, "_a"),
        Some(hammingBandRows(batch, batchId, batchSig, "_b")), maxHamming, maxBucket, maxBandDocFreq)
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_b").as("batch_id"), col("doc_a").as("corpus_id"), col("hamming"))

  /** Exact global top-k most-similar vector pairs of ANY (id, vec)
    * DataFrame by (HALF_UP-3 rounded dot DESC, id_a, id_b) — executed
    * by the custom [[graft.plans.DotTopKJoinExec]] over bounded
    * id-hash blocks of the planner-broadcast peer side; the quadratic
    * pair set is never materialized as rows. Ids LongType, vectors
    * array<double>.
    *
    * The block count is AUTO-SIZED from the data (`chunks` <= 0, the
    * default): one metadata-scale count derives
    * ceil(n_rows · (8 + 8·dims) / targetBroadcastBytes), so each
    * BroadcastExchange stays bounded at ANY corpus size with no
    * caller-tuned constant — the knob that silently stopped scaling
    * when it was a hard-coded 2. Output is chunk-count-invariant
    * (every unordered pair is scored in exactly one block), so an
    * explicit `chunks` override changes only the execution shape. */
  def topkCosinePairs(vecs: DataFrame, id: Column, vec: Column,
                      k: Int, chunks: Int = 0,
                      targetBroadcastBytes: Long = 8L << 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(targetBroadcastBytes > 0,
      s"targetBroadcastBytes must be positive, got $targetBroadcastBytes")
    val e = vecs.select(id.cast("long").as("vec_id"), vec.as("v"))
    val nChunks = autoChunks(e, chunks, targetBroadcastBytes)
    (0 until nChunks).map { c =>
      val peers = e.filter(pmod(col("vec_id"), lit(nChunks)) === c)
        .select(col("vec_id").as("pid"), col("v").as("pv"))
      plans.DotTopK.topk(e, peers, "vec_id", "v", "pid", "pv", k)
    }.reduce(_ union _)
      .orderBy(col("cosine").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(k)
  }

  /** Broadcast-chunk count for the DotTopKJoin kernels: ceil(n_rows ·
    * (8 + 8·dims) / targetBroadcastBytes) from one metadata-scale
    * driver action (a count + max dims — the CC convergence-checksum
    * pattern, never data), so each BroadcastExchange stays bounded at
    * ANY corpus size with no caller-tuned constant. */
  private def autoChunks(e: DataFrame, chunks: Int,
                         targetBroadcastBytes: Long): Int = {
    require(targetBroadcastBytes > 0,
      s"targetBroadcastBytes must be positive, got $targetBroadcastBytes")
    if (chunks > 0) chunks
    else {
      val r = e.agg(count(lit(1)), max(size(col("v")))).head()
      val n = r.getLong(0)
      val dims = if (r.isNullAt(1)) 0L else r.getInt(1).toLong
      val bytes = n * (8L + 8L * dims)
      math.max(1L, (bytes + targetBroadcastBytes - 1) / targetBroadcastBytes)
        .min(Int.MaxValue.toLong).toInt
    }
  }

  /** EXACTLY the unordered vector pairs whose HALF_UP-3 rounded dot
    * reaches tauPermille/1000 — the threshold sibling of
    * [[topkCosinePairs]] ("every pair above τ", not "the k best"),
    * executed by the same [[graft.plans.DotTopKJoinExec]] kernel in
    * its streaming threshold mode: the peer side arrives in bounded
    * planner-built broadcast chunks (auto-sized, see [[topkCosinePairs]]),
    * each unordered pair is scored in exactly one chunk (the chunk
    * owning its larger id), and matches stream out per probe row — the
    * quadratic candidate set is never materialized as rows. Returns
    * (vec_a, vec_b, cosine rounded 3), vec_a < vec_b, unordered.
    *
    * This is the exact BASELINE of the semantic-dedup family: at
    * 100 TB the all-pairs scan (O(n²·d) work, however well blocked)
    * yields to the cluster-pruned [[semanticDupVerdictsIvf]], exactly
    * as exact [[knnJoinExact]] yields to IVF search — the exact form
    * exists to be oracle-checkable and to ground the approximate
    * path's recall tests. Unit-normalize inputs for cosine semantics;
    * the kernel itself scores raw dots. */
  def cosineThresholdPairs(vecs: DataFrame, id: Column, vec: Column,
                           tauPermille: Int, chunks: Int = 0,
                           targetBroadcastBytes: Long = 8L << 20): DataFrame = {
    require(tauPermille >= 0 && tauPermille <= 1000,
      s"tauPermille must be in [0, 1000], got $tauPermille")
    val e = vecs.select(id.cast("long").as("vec_id"), vec.as("v"))
    val nChunks = autoChunks(e, chunks, targetBroadcastBytes)
    (0 until nChunks).map { c =>
      val peers = e.filter(pmod(col("vec_id"), lit(nChunks)) === c)
        .select(col("vec_id").as("pid"), col("v").as("pv"))
      plans.DotTopK.threshold(e, peers, "vec_id", "v", "pid", "pv", tauPermille)
    }.reduce(_ union _)
  }

  /** Per-document SEMANTIC-dedup verdicts (round 12, SemDeDup-shaped):
    * over ANY (id, vec, quality) DataFrame, for every document with at
    * least one neighbor at rounded cosine ≥ tauPermille/1000 the row
    * (doc_id, quality, n_dups, dropped) — `dropped` = 1 iff some
    * neighbor DOMINATES it under the (quality DESC, id ASC) total
    * order (the q_dedup_rep_quality keep-best contract: of a semantic
    * duplicate group, the best-quality — tie: lowest-id — member
    * survives). The rule is non-iterative by design ("exists a
    * dominating neighbor"), so verdicts are row-parallel and
    * engine-portable — no fixpoint, no cluster materialization.
    *
    * Scale shape: pairs from the exact [[cosineThresholdPairs]] kernel
    * (bounded broadcast chunks), evaluated ONCE — both orientations of
    * each unordered pair come from a single generator explode over the
    * one pair stream (round 17: the former temp-parquet round trip
    * existed only because a unionAll of two selects evaluates the pair
    * subtree twice; the explode keeps one evaluation with no write);
    * verdicts are one pair-scale explode + two joins against the
    * metadata projection (doc_id, quality) + one map-side-combinable
    * aggregate. Quality must cast to long (callers pre-scale floats —
    * the tableChecksum stance). */
  def semanticDupVerdicts(vecs: DataFrame, id: Column, vec: Column,
                          quality: Column, tauPermille: Int,
                          chunks: Int = 0): DataFrame = {
    val e = vecs.select(id.cast("long").as("doc_id"), vec.as("v"),
                        quality.cast("long").as("q"))
    val pairs = cosineThresholdPairs(e, col("doc_id"), col("v"), tauPermille, chunks)
    semanticVerdictsFromPairs(pairs, e.select(col("doc_id"), col("q")))
  }

  /** The verdicts of the exact and IVF semantic-dedup paths: orient
    * each unordered pair both ways, join quality on both endpoints, and
    * fold per document ([[dominanceVerdicts]]). Both orientations come
    * from ONE explode, a generator over a single evaluation of the
    * pair subtree: a unionAll of two selects would re-plan and
    * re-execute the pair kernel once per branch. */
  private def semanticVerdictsFromPairs(pairs: DataFrame,
                                        qual: DataFrame): DataFrame = {
    val dir = pairs.select(explode(array(
        struct(col("vec_a").as("doc_id"), col("vec_b").as("nb")),
        struct(col("vec_b").as("doc_id"), col("vec_a").as("nb")))).as("__e"))
      .select(col("__e.doc_id").as("doc_id"), col("__e.nb").as("nb"))
    dominanceVerdicts(dir.join(qual, "doc_id")
      .join(qual.select(col("doc_id").as("nb"), col("q").as("nq")), "nb"))
  }

  /** One verdict row per document of its (doc_id, q, nb, nq) neighbor
    * rows: n_dups = the neighbor count, dropped = 1 iff some neighbor
    * dominates under the (quality DESC, id ASC) total order. */
  private def dominanceVerdicts(neighbors: DataFrame): DataFrame =
    neighbors.groupBy("doc_id", "q")
      .agg(count(lit(1)).as("n_dups"),
           max(when(col("nq") > col("q") ||
                    (col("nq") === col("q") && col("nb") < col("doc_id")),
                    1L).otherwise(0L)).as("dropped"))
      .select(col("doc_id"), col("q").as("quality"),
              col("n_dups"), col("dropped"))

  /** The 100 TB path of [[semanticDupVerdicts]] — SemDeDup proper:
    * k-means cluster the corpus ([[ivfTrain]] — deterministic id-hash
    * sample, Forgy init, Lloyd iterations), then compare ONLY within a
    * cluster ([[operators.SkewJoin.blockedSelfPairs]] on the cell id,
    * so one dense cluster cannot serialize a task), score with the
    * same rounded-3 dot, and fold the same dominance verdicts. Work
    * drops from O(n²·d) to O(Σ cell²·d); the price is RECALL — a pair
    * straddling two cells is unseen, the declared SemDeDup trade
    * (pinned against the exact twin in SemanticDedupSpec, the
    * q_sim_ivf discipline). Returns the [[semanticDupVerdicts]] schema
    * restricted to within-cell neighbors. */
  def semanticDupVerdictsIvf(vecs: DataFrame, id: Column, vec: Column,
                             quality: Column, tauPermille: Int,
                             k: Int = 16, iters: Int = 3,
                             sampleFraction: Double = 1.0,
                             maxBucket: Int = 4096,
                             centroids: Option[DataFrame] = None): DataFrame = {
    require(tauPermille >= 0 && tauPermille <= 1000,
      s"tauPermille must be in [0, 1000], got $tauPermille")
    val e = vecs.select(id.cast("long").as("doc_id"), vec.as("v"),
                        quality.cast("long").as("q"))
    // `centroids` = a standing pre-trained quantizer (train once via
    // [[ivfTrain]], persist, pass it to every consumer); None trains
    // one for this call
    val cents = centroids.getOrElse(
      ivfTrain(e, col("doc_id"), col("v"), k, iters, sampleFraction))
    val cells = ivfAssign(cents, e.select(col("doc_id"), col("v")), col("v"))
      .select(col("cell"), col("doc_id"), col("v"))
    val scored = operators.SkewJoin
      .blockedSelfPairs(cells, Seq("cell"), "doc_id", maxBucket)
      .select(col("doc_id_a").as("vec_a"), col("doc_id_b").as("vec_b"),
              round(functions.GraftFunctions.dot(col("v_a"), col("v_b")), 3)
                .as("cosine"))
      // integer-permille threshold, matching the exact kernel's
      // math.round compare: `cosine * 1000 >= τ` on doubles loses
      // exact-boundary pairs for some τ (0.29·1000 = 289.999…94 <
      // 290), and recall loss must come ONLY from cell straddling. No
      // cast to long: round() yields an exactly-integral double
      // (< 2^53), so the compare is exact, while an ANSI cast would
      // throw on a NaN cosine where the exact kernel excludes the pair
      .filter(round(col("cosine") * 1000, 0) >= tauPermille)
    semanticVerdictsFromPairs(scored, e.select(col("doc_id"), col("q")))
  }

  /** INCREMENTAL semantic dedup, the per-ingest face of
    * [[semanticDupVerdictsIvf]] (as [[nearDupPairsNgramAgainst]] and
    * [[nearDupPairsMinhashAgainst]] are of theirs): a NEW BATCH of
    * vectors is screened against a STANDING corpus under a STANDING
    * trained quantizer, without re-running Lloyd or re-pairing the
    * corpus against itself. Both
    * sides take their cell from the same broadcast `centroids` model
    * ([[ivfTrain]] output — the "persist the model table once"
    * posture), candidates meet ONLY within a cell via
    * [[operators.SkewJoin.blockedBipartiteJoin]] (corpus = large
    * side: the standing corpus is where a dense cell accumulates, and
    * a hot cell splits into id-hash blocks with batch rows replicated
    * across them), scoring is the same HALF_UP-3 rounded dot with the
    * same integer-permille threshold (recall loss comes ONLY from
    * cell straddling, exactly the full run's contract).
    *
    * Returns one row PER BATCH DOC with ≥ 1 same-cell corpus neighbor
    * at rounded cosine ≥ tauPermille/1000: (doc_id, quality, n_dups,
    * dropped) — the [[semanticDupVerdicts]] schema with n_dups
    * counting CORPUS neighbors only and dropped = 1 iff some corpus
    * neighbor dominates under the (quality DESC, id ASC) total order:
    * the ingest decision "does the standing corpus already contain a
    * better copy of this document?". Batch-internal duplicates are
    * deliberately out of scope (screen the batch against itself with
    * [[semanticDupVerdictsIvf]] if needed — the two calls compose to
    * the full union semantics restricted to their pair subsets).
    *
    * Id-overlap contract (the [[nearDupPairsMinhashAgainst]] stance):
    * sides are expected DISJOINT; a doc id present on both sides is
    * the same document seen twice and its degenerate (x, x) pair is
    * filtered rather than reported as a self-duplicate. Quality must
    * cast to long on both sides. Equivalence to the full
    * [[semanticDupVerdictsIvf]] run under a shared model, restricted
    * to cross pairs, is pinned in SemanticDedupSpec. */
  def semanticDupVerdictsIvfAgainst(centroids: DataFrame,
                                    batch: DataFrame, batchId: Column,
                                    batchVec: Column, batchQual: Column,
                                    corpus: DataFrame, corpusId: Column,
                                    corpusVec: Column, corpusQual: Column,
                                    tauPermille: Int,
                                    maxBucket: Int = 4096): DataFrame = {
    require(tauPermille >= 0 && tauPermille <= 1000,
      s"tauPermille must be in [0, 1000], got $tauPermille")
    val b = batch.select(batchId.cast("long").as("doc_id"), batchVec.as("bv"),
                         batchQual.cast("long").as("q"))
    val c = corpus.select(corpusId.cast("long").as("nb"), corpusVec.as("cv"),
                          corpusQual.cast("long").as("nq"))
    val bCells = ivfAssign(centroids, b, col("bv"))
      .select(col("cell"), col("doc_id"), col("bv"), col("q"))
    val cCells = ivfAssign(centroids, c, col("cv"))
      .select(col("cell"), col("nb"), col("cv"), col("nq"))
    dominanceVerdicts(operators.SkewJoin
      .blockedBipartiteJoin(cCells, "nb", bCells, Seq("cell"), maxBucket)
      .filter(col("doc_id") =!= col("nb"))
      .select(col("doc_id"), col("q"), col("nb"), col("nq"),
              round(functions.GraftFunctions.dot(col("bv"), col("cv")), 3)
                .as("cosine"))
      // integer-permille compare on the exactly-integral rounded
      // double — the semanticDupVerdictsIvf boundary discipline
      .filter(round(col("cosine") * 1000, 0) >= tauPermille))
  }

  // ------------------------------------------------------------------
  // Approximate nearest neighbor — the sub-linear siblings of the
  // exact kernels above, generic over caller DataFrames.
  // ------------------------------------------------------------------

  /** Deterministic ±1 hyperplane weight for SRP plane p, dim i —
    * seeded Murmur bit, so signatures are engine- and run-stable. */
  private def srpPlane(p: Int, dims: Int, seed: Int): Seq[Double] =
    (0 until dims).map { i =>
      if ((scala.util.hashing.MurmurHash3.productHash((p, i), seed) & 1) == 1) 1.0 else -1.0
    }

  /** Default SRP seed = Scala's product-hash seed (keeps signatures
    * identical to the pre-facade q_sim_srp query). */
  val SrpDefaultSeed: Int = scala.util.hashing.MurmurHash3.productSeed

  /** Signature builder: derives the corpus dimensionality (one
    * metadata-scale driver action), materializes the seeded planes,
    * and returns the vector → packed-sign-bits column function. */
  private[graft] def srpSigOf(vecs: DataFrame, vec: Column,
                              bits: Int, seed: Int): Column => Column = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    val dimsRow = vecs.agg(max(size(vec))).head()
    val dims = if (dimsRow.isNullAt(0)) 0 else dimsRow.getInt(0)
    val planes = (0 until bits).map(p => srpPlane(p, dims, seed))
    v => (0 until bits).map { p =>
      when(functions.GraftFunctions.dot(v, typedlit(planes(p))) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Shared SRP machinery: sign-bit signatures for both sides + the
    * Hamming-radius candidate filter. Output = vecs' columns plus
    * (__v, __pv, __hamming) working columns. */
  private def srpJoined(vecs: DataFrame, vec: Column,
                        probe: DataFrame, probeVec: Column,
                        bits: Int, radius: Int, seed: Int): DataFrame = {
    require(radius >= 0 && radius <= bits, s"radius must be in [0, $bits], got $radius")
    val sigOf = srpSigOf(vecs, vec, bits, seed)
    val pv = probe.select(probeVec.as("__pv"))
      .select(col("__pv"), sigOf(col("__pv")).as("__psig"))
    vecs.withColumn("__v", vec).withColumn("__sig", sigOf(col("__v")))
      .crossJoin(broadcast(pv))
      .withColumn("__hamming", expr("bit_count(__sig ^ __psig)"))
      .filter(col("__hamming") <= radius)
  }

  /** SRP-LSH candidate set over ANY (… , vec) DataFrame: the rows
    * whose `bits`-bit sign-random-projection signature is within
    * Hamming `radius` of the (single-row) `probe`'s — the recall/cost
    * knob of SRP search, exposed for callers who rerank themselves.
    * Returns vecs' columns + `hamming`. At scale the signature is the
    * bucket key (group-by-signature + multi-probe); here the filter
    * form keeps the single scan explicit. */
  def srpCandidates(vecs: DataFrame, vec: Column,
                    probe: DataFrame, probeVec: Column,
                    bits: Int = 16, radius: Int = 5,
                    seed: Int = SrpDefaultSeed): DataFrame =
    srpJoined(vecs, vec, probe, probeVec, bits, radius, seed)
      .select(vecs.columns.map(col) :+ col("__hamming").as("hamming"): _*)

  /** SRP-LSH approximate nearest neighbor over ANY (id, …, vec)
    * DataFrame: Hamming-radius candidates (see [[srpCandidates]]) +
    * exact cosine rerank of candidates only, top `topk` by
    * (HALF_UP-3 rounded score DESC, id ASC). Returns vecs' columns +
    * `score`; candidate scores are EXACT (same native dot kernel as
    * brute force), so any returned row carries its true score. */
  def srpSearch(vecs: DataFrame, id: Column, vec: Column,
                probe: DataFrame, probeVec: Column,
                topk: Int = 10, bits: Int = 16, radius: Int = 5,
                seed: Int = SrpDefaultSeed): DataFrame = {
    require(topk > 0, s"topk must be positive, got $topk")
    srpJoined(vecs, vec, probe, probeVec, bits, radius, seed)
      .select(vecs.columns.map(col) :+
        round(functions.GraftFunctions.dot(col("__v"), col("__pv")), 3).as("score"): _*)
      .orderBy(col("score").desc, id.asc)
      .limit(topk)
  }

  /** The centroid set folded into ONE row as an array<struct<cell,cv>>
    * scalar `__cents`, the model [[functions.NearestCells]] ranks
    * against: one row broadcasts to every task, so cell ranking is
    * per-row arithmetic with no shuffle. */
  private def centroidArray(centroids: DataFrame): DataFrame =
    centroids.agg(collect_list(struct(col("cell"), col("cv"))).as("__cents"))

  /** Batch SRP kNN JOIN — for EVERY probe row, its `topk` nearest
    * corpus vectors among those within SRP-signature Hamming `radius`:
    * the banded sibling of [[ivfSearchAll]]. Candidate generation is
    * BAND-BUCKETED, never probes×corpus: the `bits` signature bits are
    * partitioned into radius+1 bands, so any pair within Hamming
    * `radius` leaves ≥ 1 band untouched (pigeonhole — PERFECT recall
    * vs the cross-join filter, proven in GraftSpec) and candidates
    * meet in ONE equi-join on (band, key). Surviving pairs are
    * Hamming-filtered exactly, deduped, reranked with the exact dot
    * kernel, and cut to `topk` per probe by (HALF_UP-3 rounded score
    * DESC, id ASC) — the cut is the bounded [[TopK]] PARTIAL AGGREGATE
    * (the [[knnJoinExact]] kernel), so each map task forwards ≤ topk
    * candidates per probe and a hot probe never concentrates its full
    * candidate set in one window-sort task. Only (id, signature) ride
    * the band join; the caller's corpus columns re-attach to the ≤
    * topk·|probes| survivors in one final equi-join. Requires radius <
    * bits (radius = bits means "everything is a candidate" — use a
    * plain cross join / brute force instead of an LSH at that point).
    * Corpus ids must be unique and long-castable; NULL ids/vectors
    * cannot rank and are dropped. Returns `probe_id` + vecs' columns +
    * `hamming` + `score`.
    *
    * `maxBucket` (default off) opts into
    * [[operators.SkewJoin.blockedBipartiteJoin]] for the band join —
    * the guard for the CORPUS-SCALE probe batch regime, where the
    * probe side exceeds the broadcast threshold and a dense (band,
    * key) bucket would otherwise serialize one shuffled-join task.
    * Result-identical at any setting; leave off for query-batch-sized
    * probes (the planner broadcasts them and the corpus never
    * shuffles). */
  def srpSearchAll(vecs: DataFrame, id: Column, vec: Column,
                   probes: DataFrame, probeId: Column, probeVec: Column,
                   topk: Int = 10, bits: Int = 16, radius: Int = 5,
                   seed: Int = SrpDefaultSeed,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    require(topk > 0, s"topk must be positive, got $topk")
    require(radius >= 0 && radius < bits,
      s"banded search requires radius in [0, bits), got radius=$radius bits=$bits")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    requireNoReserved(vecs, "srpSearchAll vecs")
    val sigOf = srpSigOf(vecs, vec, bits, seed)
    def bandKeys(sig: String): Column = srpBandKeys(sig, bits, radius)
    // only (id, sig) explode into the band join — the corpus payload
    // (vectors included) never rides the candidate shuffle
    val corpusSlim = vecs.select(id.cast("long").as("__cid"), vec.as("__v"))
      .filter(col("__cid").isNotNull)
    val corpusBanded = corpusSlim.withColumn("__sig", sigOf(col("__v")))
      .select(col("__cid"), col("__sig"), explode(bandKeys("__sig")).as("__bk"))
      .select(col("__cid"), col("__sig"),
              col("__bk.band").as("__band"), col("__bk.key").as("__key"))
    val probeSlim = probes.select(probeId.as("probe_id"), probeVec.as("__pv"))
    val probeBanded = probeSlim.withColumn("__psig", sigOf(col("__pv")))
      .select(col("probe_id"), col("__psig"), explode(bandKeys("__psig")).as("__bk"))
      .select(col("probe_id"), col("__psig"),
              col("__bk.band").as("__band"), col("__bk.key").as("__key"))
    // small probe batches broadcast (planner's call — the corpus never
    // shuffles); a corpus-scale probe batch falls back to a shuffled
    // join where one hot (band, key) bucket serializes a task — opt
    // into the bipartite block guard with `maxBucket` there
    val met =
      if (maxBucket == Int.MaxValue) corpusBanded.join(probeBanded, Seq("__band", "__key"))
      else operators.SkewJoin.blockedBipartiteJoin(
        corpusBanded, "__cid", probeBanded, Seq("__band", "__key"), maxBucket)
    val cand = met
      .dropDuplicates("probe_id", "__cid")   // a pair can collide in >1 band
      .withColumn("hamming", expr("bit_count(__sig ^ __psig)"))
      .filter(col("hamming") <= radius)
      .select(col("probe_id"), col("__cid"), col("hamming"))
    // exact rerank of survivors + the bounded per-probe cut: <= topk
    // rows per probe leave each map task (no per-probe window sort)
    val topAgg = udaf(TopK.taggedAgg(topk))
    val top = cand
      .join(corpusSlim, "__cid")
      .join(probeSlim, "probe_id")
      .select(col("probe_id"), col("__cid"), col("hamming"),
        round(functions.GraftFunctions.dot(col("__v"), col("__pv")), 3).as("score"))
      .filter(col("score").isNotNull)
      .groupBy("probe_id")
      .agg(topAgg(col("__cid"), col("score"), col("hamming").cast("long")).as("__top"))
      .select(col("probe_id"), explode(col("__top")).as("__e"))
      .select(col("probe_id"), col("__e.id").as("__cid"),
              col("__e.tag").cast("int").as("hamming"), col("__e.score").as("score"))
    val cols = vecs.columns
    top.join(vecs.withColumn("__jid", id.cast("long")), col("__cid") === col("__jid"))
      .select(col("probe_id") +: cols.map(col) :+ col("hamming") :+ col("score"): _*)
  }

  /** The (radius+1)-band decomposition of a `bits`-bit signature
    * column (named by `sig`) as an array<struct<band,key>> — any
    * Hamming ≤ radius pair matches in ≥ 1 band (pigeonhole). Bands are
    * contiguous near-equal-width bit ranges. The mask is
    * `-1L >>> (64 - w)`, not `(1L << w) - 1`: Scala shifts mod 64, so
    * the latter is 0 at the legal w == 64 (bits = 64, radius = 0) and
    * every signature would share bucket key 0 — output still correct
    * (exact Hamming filter downstream) but the banding degenerates to
    * one hot key, which is exactly the scale property the bands exist
    * for (pinned by the bits=64 GraftSpec test). */
  private[graft] def srpBandKeys(sig: String, bits: Int, radius: Int): Column = {
    val bands = radius + 1
    val base = bits / bands; val rem = bits % bands
    val widths = Array.tabulate(bands)(b => if (b < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
             expr(s"shiftrightunsigned($sig, ${offsets(b)}) & ${-1L >>> (64 - widths(b))}")
               .as("key"))
    }: _*)
  }

  /** The ANN facades stage working columns prefixed `__` (and the
    * output key `probe_id`) next to the caller's columns — caller
    * columns with those names would be silently shadowed, so reject
    * them loudly instead. */
  private def requireNoReserved(df: DataFrame, who: String): Unit = {
    val clash = df.columns.filter(c => c.startsWith("__") || c == "probe_id")
    require(clash.isEmpty,
      s"$who columns ${clash.mkString(", ")} collide with reserved working " +
        "names (__-prefixed, probe_id); rename them before the call")
  }

  /** Trains an IVF coarse quantizer over ANY (id, vec) DataFrame. The
    * returned (cell, cv) centroid DataFrame is a reusable model for any
    * number of [[ivfAssign]] / [[ivfSearch]] calls (persist it to train
    * once). Initialization is Forgy on an opaque id hash (the k vectors
    * with the smallest xxhash64(id), which become the cell ids); each
    * of the `iters` Lloyd iterations is ONE map-side-combinable job
    * over the once-checkpointed training set: assignment ranks against
    * the k-row model embedded as a literal
    * ([[functions.NearestCells]]), recomputation is one
    * `groupBy(cell).agg(`[[VecSum]]`)` element-wise mean. The model is
    * bounded driver state, sorted by cell id, so the trajectory is
    * deterministic up to float summation order. `sampleFraction` < 1
    * trains on a deterministic id-hash sample; assignment stays one
    * map-side pass over everything. Cells that lose all members are
    * dropped (k may shrink). */
  def ivfTrain(vecs: DataFrame, id: Column, vec: Column, k: Int,
               iters: Int = 3, sampleFraction: Double = 1.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val base = vecs.select(xxhash64(id).as("__h"), vec.as("__v"))
      .filter(col("__v").isNotNull)
    val raw = if (sampleFraction < 1.0)
      base.filter(pmod(col("__h"), lit(1000000L)) <
        math.round(sampleFraction * 1000000).toLong)
    else base
    // one materialization for the iters+1 passes: each round's plan
    // reads the checkpoint, not the caller's source subtree
    val spark = vecs.sparkSession
    import spark.implicits._
    val train = if (iters > 0) raw.localCheckpoint() else raw
    var cents: Seq[(Long, Seq[Double])] = train.orderBy("__h").limit(k)
      .select(col("__h").as("cell"), col("__v").as("cv"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    for (_ <- 1 to iters if cents.nonEmpty) {
      cents = train
        .select(functions.NearestCells.cells(col("__v"), typedLit(cents), 1).getItem(0).as("cell"),
                col("__v"))
        .groupBy("cell")
        .agg(udaf(VecSum.agg).apply(col("__v")).as("sv"), count(lit(1)).as("n"))
        .as[(Long, Seq[Double], Long)].collect().toSeq
        .map { case (cell, sv, n) => (cell, sv.map(_ / n.toDouble)) }.sortBy(_._1)
    }
    cents.toDF("cell", "cv")
  }

  /** Top principal component of a vector column — MATRIX-FREE
    * distributed power iteration, the spectral sibling of [[ivfTrain]]
    * (PCA whitening / dominant-direction analysis of an embedding
    * corpus). Never materializes the dim×dim covariance: each
    * iteration computes w = C·v = (Σᵢ cᵢ·xᵢ − (Σᵢ cᵢ)·μ)/n with
    * cᵢ = xᵢ·v − μ·v in ONE map-side-combinable pass — a row-local
    * codegen'd dot ([[functions.GraftFunctions.dot]]) + a [[VecSum]]
    * partial aggregate — so per-iteration shuffle traffic is a single
    * dim-length vector per task regardless of corpus size. Driver
    * state is O(dim) (mean, v), exactly the ivfTrain centroid-scalar
    * pattern; the input is localCheckpoint'd once for the iters+1
    * passes.
    *
    * Returns one row per dimension: (pos, loading, eigenvalue,
    * var_permille) — the unit eigenvector (sign-canonicalized: its
    * largest-|.| component is positive), the Rayleigh eigenvalue
    * λ = vᵀCv, and floor(1000·λ/trace(C)) (variance explained).
    * Convergence is geometric in the spectral gap; `iters` bounds
    * work, and the output is a deterministic function of the input
    * and `iters` up to float summation order. Ragged or empty input
    * vectors fail loudly via [[VecSum]]'s dimensionality contract. */
  def topPrincipalComponent(vecs: DataFrame, vec: Column,
                            iters: Int = 8): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = vecs.sparkSession
    import spark.implicits._
    val base = vecs.select(vec.cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
      .localCheckpoint()
    val stats = base.agg(
        udaf(VecSum.agg).apply(col("__v")).as("sv"),
        count(lit(1)).as("n"),
        sum(aggregate(transform(col("__v"), x => x * x),
                      lit(0.0), (a, b) => a + b)).as("ss"))
      .collect()(0)
    val n = stats.getAs[Long]("n")
    require(n > 0, "topPrincipalComponent: no non-null input vectors")
    val mean = stats.getAs[Seq[Double]]("sv").map(_ / n).toArray
    val dim = mean.length
    val trace = stats.getAs[Double]("ss") / n - mean.map(m => m * m).sum
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val mv = mean.zip(v).map { case (m, c) => m * c }.sum
      val r = base
        .select(col("__v"),
                (functions.GraftFunctions.dot(col("__v"), typedLit(v.toSeq)) - lit(mv)).as("__c"))
        .select(transform(col("__v"), x => x * col("__c")).as("__cv"), col("__c"))
        .agg(udaf(VecSum.agg).apply(col("__cv")).as("w"), sum(col("__c")).as("sc"))
        .collect()(0)
      val sc = r.getAs[Double]("sc")
      val w = r.getAs[Seq[Double]]("w").zipWithIndex
        .map { case (x, j) => (x - sc * mean(j)) / n }.toArray
      lambda = v.zip(w).map(p => p._1 * p._2).sum
      val norm = math.sqrt(w.map(x => x * x).sum)
      require(norm > 0, "topPrincipalComponent: power iteration collapsed to zero " +
        "(input has no variance along the current direction)")
      v = w.map(_ / norm)
    }
    val am = v.indices.maxBy(j => math.abs(v(j)))
    val out = if (v(am) < 0) v.map(x => -x) else v
    val varPermille = if (trace > 0) math.floor(1000.0 * lambda / trace).toLong else 0L
    out.toSeq.zipWithIndex
      .map { case (l, j) => (j.toLong, l) }.toDF("pos", "loading")
      .withColumn("eigenvalue", lit(lambda))
      .withColumn("var_permille", lit(varPermille))
  }

  /** Nearest-centroid cell id for EVERY row of `vecs`, the assignment
    * half of IVF as a standalone op: row-local
    * [[functions.NearestCells]] against the broadcast centroid-array
    * scalar, a pure map with no shuffle at any corpus size. Appends
    * `cellCol`, NULL on a NULL vector or an empty model. This is also
    * the partition key of a cell-clustered layout:
    * `ivfAssign(...).write.partitionBy(cellCol)` materializes the
    * inverted file itself. */
  def ivfAssign(centroids: DataFrame, vecs: DataFrame, vec: Column,
                cellCol: String = "cell"): DataFrame =
    vecs.crossJoin(broadcast(centroidArray(centroids)))
      // a generator, not a projection: the not-null filter the optimizer
      // infers from a join on the cell stays above it, where a projected
      // cell would be pushed into the cross join's condition and ranked
      // twice per row; outer keeps a NULL vector's row with a NULL cell
      .withColumn(cellCol, explode_outer(functions.NearestCells.cells(vec, col("__cents"), 1)))
      .drop("__cents")

  /** Batch IVF kNN JOIN — for EVERY probe row, its `topk` nearest
    * corpus vectors: the production shape of similarity search in a
    * training pipeline ("for each document, its k nearest"), where the
    * single-probe [[ivfSearch]] is the interactive case. Execution is
    * the INVERTED-FILE EQUI-JOIN: corpus vectors take their cell from
    * [[ivfAssign]], each probe explodes to its `nprobe` nearest cells
    * ([[functions.NearestCells]], row-local, no window), and
    * candidates meet in ONE shuffle equi-join on cell — work ∝ Σ
    * probes×cell sizes, never probes×corpus. The per-probe top-k is
    * the bounded [[TopK]] PARTIAL AGGREGATE (the [[knnJoinExact]]
    * kernel): ≤ topk rows per probe leave each map task, so a hot
    * probe never concentrates its candidate cells in one window-sort
    * task; the caller's corpus
    * columns re-attach to the ≤ topk·|probes| survivors in one final
    * equi-join. Returns `probe_id` + vecs' columns + `score` by
    * (HALF_UP-3 rounded score DESC, id ASC) per probe; with nprobe >=
    * |cells| each probe's result IS its brute-force top-k. Corpus ids
    * must be unique and long-castable; NULL ids/scores cannot rank and
    * are dropped. Probes drawn from the corpus itself match
    * themselves — filter on probe_id/id downstream if unwanted.
    * `maxBucket` (default off) opts into the bipartite hot-bucket
    * guard for corpus-scale probe batches — see [[srpSearchAll]];
    * result-identical at any setting. */
  def ivfSearchAll(centroids: DataFrame, vecs: DataFrame, id: Column, vec: Column,
                   probes: DataFrame, probeId: Column, probeVec: Column,
                   nprobe: Int = 3, topk: Int = 10,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    require(topk > 0, s"topk must be positive, got $topk")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    requireNoReserved(vecs, "ivfSearchAll vecs")
    val assigned = ivfAssign(centroids,
      vecs.select(id.cast("long").as("__cid"), vec.as("__v")).filter(col("__cid").isNotNull),
      col("__v"), "__cell")
    val probed = probes.select(probeId.as("probe_id"), probeVec.as("__pv"))
      .crossJoin(broadcast(centroidArray(centroids)))
      .select(col("probe_id"), col("__pv"),
              explode(functions.NearestCells.cells(col("__pv"), col("__cents"), nprobe)).as("__cell"))
    val topAgg = udaf(TopK.agg(topk))
    // same small-probes-broadcast / corpus-scale-probes block-guard
    // trade as srpSearchAll: a hot IVF cell (imbalanced clustering)
    // only serializes a task when the probe side is too big to
    // broadcast — `maxBucket` opts into the bipartite decomposition
    val met =
      if (maxBucket == Int.MaxValue) assigned.join(probed, "__cell")
      else operators.SkewJoin.blockedBipartiteJoin(
        assigned, "__cid", probed, Seq("__cell"), maxBucket)
    val top = met
      .select(col("probe_id"), col("__cid"),
        round(functions.GraftFunctions.dot(col("__v"), col("__pv")), 3).as("score"))
      .filter(col("score").isNotNull)
      .groupBy("probe_id")
      .agg(topAgg(col("__cid"), col("score")).as("__top"))
      .select(col("probe_id"), explode(col("__top")).as("__e"))
      .select(col("probe_id"), col("__e.id").as("__cid"), col("__e.score").as("score"))
    val cols = vecs.columns
    top.join(vecs.withColumn("__jid", id.cast("long")), col("__cid") === col("__jid"))
      .select(col("probe_id") +: cols.map(col) :+ col("score"): _*)
  }

  /** IVF approximate nearest neighbor for a single-row `probe`: every
    * vector takes its cell from [[ivfAssign]], the probe explodes to
    * its `nprobe` nearest cells ([[functions.NearestCells]], the
    * [[ivfSearchAll]] probe side), and those cells are searched
    * exhaustively — scan cost ~nprobe/k of brute force, and with
    * nprobe >= |cells| the result IS the brute-force top-k.
    * `centroids` comes from [[ivfTrain]] (train once, search many).
    * Returns vecs' columns + `score` by (HALF_UP-3 rounded score DESC,
    * id ASC). */
  def ivfSearch(centroids: DataFrame, vecs: DataFrame, id: Column, vec: Column,
                probe: DataFrame, probeVec: Column,
                nprobe: Int = 3, topk: Int = 10): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    require(topk > 0, s"topk must be positive, got $topk")
    val cols = vecs.columns
    val assigned = ivfAssign(centroids, vecs.withColumn("__v", vec), col("__v"), "__cell")
    val probed = probe.select(probeVec.as("__pv"))
      .crossJoin(broadcast(centroidArray(centroids)))
      .select(col("__pv"),
              explode(functions.NearestCells.cells(col("__pv"), col("__cents"), nprobe)).as("__cell"))
    assigned.join(broadcast(probed), "__cell")
      .select(cols.map(col) :+
        round(functions.GraftFunctions.dot(col("__v"), col("__pv")), 3).as("score"): _*)
      .orderBy(col("score").desc, id.asc)
      .limit(topk)
  }

  /** Batch EXACT kNN join — for every probe row, its `topk` highest-
    * dot-product corpus vectors: the brute-force ground truth the
    * approximate [[srpSearchAll]]/[[ivfSearchAll]] paths are measured
    * against. The probe side broadcasts (it is small by definition —
    * a query batch, not a corpus), the corpus streams through ONE
    * linear scan, and the per-probe cut is the bounded [[TopK]]
    * partial aggregate: each map task keeps at most k entries per
    * probe, so the shuffle moves ≤ k·|probes| rows per task — never
    * the |corpus|·|probes| score matrix a window-rank plan would
    * sort. Both operands are cast float→double BEFORE multiplying
    * (rule F). Returns (probe_id, id, score DOUBLE, rk INT), rk
    * 1-based by (score DESC, id ASC). */
  def knnJoinExact(corpus: DataFrame, id: Column, vec: Column,
                   probes: DataFrame, probeId: Column, probeVec: Column,
                   topk: Int = 10): DataFrame = {
    require(topk >= 1, s"topk must be >= 1, got $topk")
    val p = probes.select(probeId.cast("long").as("probe_id"),
                          probeVec.cast("array<double>").as("__pv"))
    val topAgg = udaf(TopK.agg(topk))
    corpus.select(id.cast("long").as("__cid"), vec.cast("array<double>").as("__cv"))
      .filter(col("__cid").isNotNull)    // a NULL id cannot be ranked
      .crossJoin(broadcast(p))
      .select(col("probe_id"), col("__cid"),
              functions.GraftFunctions.dot(col("__cv"), col("__pv")).as("__score"))
      .filter(col("__score").isNotNull)  // NULL similarity cannot rank
      .groupBy("probe_id")
      .agg(topAgg(col("__cid"), col("__score")).as("__top"))
      .select(col("probe_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("probe_id"), col("__e.id").as("id"),
              col("__e.score").as("score"),
              (col("__pos") + 1).cast("int").as("rk"))
  }

  /** Concat-then-chunk sequence packing — the pretraining step that
    * lays a corpus end-to-end in a deterministic order (ascending id)
    * and cuts the token stream into fixed-`budget` context windows:
    * returns, per document, the first and last window it lands in
    * (documents straddle boundaries, as GPT-style packing allows).
    * The exclusive token prefix sum is the [[operators.RangeScan]]
    * two-pass scheme over `buckets` (≥ 1) range buckets of the id,
    * never a single-partition window. Returns (doc_id, n_tokens,
    * start_chunk, end_chunk, n_chunks), all LONG; a zero-token
    * document occupies the single window at its offset. The id is the
    * LAYOUT ORDER and must be unique: rows sharing an id have no
    * defined relative position, so their prefix (and chunk spans)
    * would be run-dependent.
    *
    * `buckets = 0` (default) AUTO-SIZES from one cheap count —
    * ceil(rows / 2M), floored at 16 — so each per-bucket window
    * partition holds a bounded ~2M (long, long) rows at ANY corpus
    * size without a caller-tuned constant (the same no-magic-constant
    * rule as [[topkCosinePairs]]' chunk auto-sizing). */
  def packChunks(docs: DataFrame, id: Column, nTokens: Column,
                 budget: Long, buckets: Int = 0): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(buckets >= 0, s"buckets must be >= 0 (0 = auto), got $buckets")
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(id.cast("long").as("doc_id"),
                           nTokens.cast("long").as("n_tokens"))
    val b =
      if (buckets > 0) buckets
      else {
        val n = base.count()
        math.max(16, math.min(65536, ((n + 1999999L) / 2000000L).toInt))
      }
    val w = Window.partitionBy("__bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val start = expr(s"__prefix div ${budget}L")
    val end = greatest(start, expr(s"(__prefix + n_tokens - 1) div ${budget}L"))
    operators.RangeScan(base, Nil, col("doc_id"), b, descending = false,
                        sum("n_tokens"), lit(0L))(_ + _)
      .select(col("doc_id"), col("n_tokens"),
              (col("__prefix") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
                .as("__prefix"))
      .select(col("doc_id"), col("n_tokens"),
              start.as("start_chunk"), end.as("end_chunk"),
              (end - start + 1).as("n_chunks"))
  }

  /** The reader-side inverse of [[packChunks]]: per context window
    * (chunk), the documents that land in it — the manifest a training
    * data loader materializes to fetch window i's payload. One
    * row-local explode of each doc's [start_chunk, end_chunk] span;
    * chunks tile the concatenated token stream, so every chunk id in
    * [0, max end_chunk] appears (no gaps — tested). Returns
    * (chunk_id, doc_id). */
  def chunkManifest(packed: DataFrame): DataFrame =
    packed.select(
      explode(sequence(col("start_chunk"), col("end_chunk"))).as("chunk_id"),
      col("doc_id"))

  /** Per-document sliding-window chunking with overlap — the
    * RAG/context-prep sibling of [[packChunks]]: where packing lays
    * the corpus end-to-end and cuts ACROSS document boundaries, this
    * cuts WITHIN each document into `chunkTokens`-token windows whose
    * starts advance by stride = chunkTokens − overlapTokens, so
    * consecutive windows share `overlapTokens` tokens of context and
    * the last window shortens to the tail instead of overrunning —
    * every token lands in ≥ 1 chunk, no chunk is empty (the chunk
    * count is 1 + ceil(max(n − chunk, 0) / stride), whose last start
    * is provably < n). Entirely ROW-LOCAL: one Generate per document,
    * zero shuffle at any corpus size; output volume is ~n/stride rows
    * per document, linear in the corpus. Tokens are the single-space
    * split (the corpus contract every text operator here shares);
    * NULL ids and NULL texts drop (no tokens, no chunks). Returns
    * (doc_id LONG, chunk_idx LONG 0-based, start_tok LONG 0-based,
    * n_tok LONG, chunk_text STRING). */
  def slidingChunks(docs: DataFrame, id: Column, text: Column,
                    chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens), got $overlapTokens")
    val stride = (chunkTokens - overlapTokens).toLong
    val nChunks = lit(1L) +
      ceil(greatest(col("__n") - chunkTokens, lit(0L)).cast("double") / stride)
        .cast("long")
    docs.select(id.cast("long").as("doc_id"), split(text, " ").as("__t"))
      .filter(col("doc_id").isNotNull)
      .withColumn("__n", size(col("__t")).cast("long"))
      .filter(col("__n") > 0)   // NULL text: size = -1
      .select(col("doc_id"), col("__t"), col("__n"),
              explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("n_tok", least(lit(chunkTokens.toLong), col("__n") - col("start_tok")))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"), col("n_tok"),
              array_join(slice(col("__t"), (col("start_tok") + 1).cast("int"),
                               col("n_tok").cast("int")), " ").as("chunk_text"))
  }

  /** Per-document mean negative log-likelihood under the corpus's own
    * unigram model — the CCNet-style perplexity proxy a quality gate
    * ranks documents by (boilerplate scores low, rare-token noise
    * scores high). The model is the corpus itself: p(t) = count(t) /
    * total. Scoring is ZERO-shuffle per document: the (token → count)
    * table folds into a ONE-row map scalar + total that broadcasts,
    * and each document folds its own token array against it with a
    * row-local HOF — no explode-and-regroup of the corpus. The scalar
    * holds for natural-language vocabularies (Zipf-bounded); for an
    * unbounded vocab swap the scalar for a broadcast equi-join on
    * token — semantics identical. Unseen tokens (possible only when
    * scoring docs OUTSIDE the model corpus) floor at count 1. Returns
    * (doc_id, n_tokens LONG, mean_nll DOUBLE — natural log). */
  def unigramLogProb(docs: DataFrame, id: Column, text: Column): DataFrame =
    unigramScore(unigramModel(docs, text), docs, id, text)

  /** The unigram model of [[unigramLogProb]] as a standalone ONE-row
    * DataFrame ((token → count) map + total) — TRAINING DECOUPLED
    * FROM SCORING, the [[ivfTrain]]/[[ivfAssign]] split for text:
    * train on a (sampled) reference corpus once, persist/checkpoint,
    * then [[unigramScore]] any number of batches — or a STREAM: the
    * scoring side is a stateless stream-static broadcast join + a
    * row-local fold, so the same call is an online quality gate under
    * readStream (demonstrated in StreamingTwinSpec). */
  def unigramModel(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .agg(map_from_entries(collect_list(struct(col("token"), col("cnt"))))
             .as("__m"),
           sum("cnt").cast("double").as("__total"))

  /** Score (id, text) rows against a trained [[unigramModel]]: mean
    * negative log-likelihood per document, row-local after the 1-row
    * model broadcast. Tokens unseen by the model floor at count 1. */
  def unigramScore(model: DataFrame, docs: DataFrame,
                   id: Column, text: Column): DataFrame =
    docs.select(id.cast("long").as("doc_id"), split(text, " ").as("__toks"))
      .crossJoin(broadcast(model))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
              (aggregate(col("__toks"), lit(0.0d),
                 (acc, t) => acc - log(coalesce(element_at(col("__m"), t), lit(1L))
                                         .cast("double") / col("__total")))
               / size(col("__toks"))).as("mean_nll"))

  /** The unigram model of [[unigramLogProb]] in OPEN-VOCAB form: a
    * (token, cnt) TABLE instead of the one-row map scalar — the shape
    * to train when the vocabulary is unbounded (code, URLs, raw bytes)
    * and a collected map would not fit in one row. One explode + one
    * narrow count shuffle; no collect, no scalar. Score with
    * [[unigramScoreJoin]]. */
  def unigramModelTable(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** Score (id, text) rows against a [[unigramModelTable]] — the
    * broadcast-equi-join sibling of the map-scalar [[unigramScore]],
    * semantics identical (equivalence-tested): mean −ln(cnt/total) per
    * document, unseen tokens floored at count 1. The join is the
    * open-vocab shape of [[bigramLogProb]]: explode each document's
    * tokens once, LEFT-join the model on token (broadcast when small,
    * shuffle otherwise — the planner decides from stats), re-group by
    * document. The model total folds from the table itself (one-row
    * partial aggregate, broadcast as a scalar), so the caller passes
    * ONE model artifact, not two. Returns the [[unigramScore]] schema:
    * (doc_id, n_tokens LONG, mean_nll DOUBLE — natural log). */
  def unigramScoreJoin(model: DataFrame, docs: DataFrame,
                       id: Column, text: Column): DataFrame = {
    val total = model.agg(sum("cnt").cast("double").as("__total"))
    docs.select(id.cast("long").as("doc_id"),
                explode(split(text, " ")).as("token"))
      .join(model.withColumnRenamed("cnt", "__cnt"), Seq("token"), "left")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
           (sum(-log(coalesce(col("__cnt"), lit(1L)).cast("double")
                       / col("__total"))) /
            count(lit(1))).as("mean_nll"))
  }

  /** Per-document mean negative CONDITIONAL log-likelihood under the
    * corpus's own bigram model — the next step from [[unigramLogProb]]
    * toward the KenLM-style scoring CCNet gates on: score(d) = mean
    * over adjacent pairs of −ln p(w2|w1), with the MLE conditional
    * p(w2|w1) = c(w1,w2) / Σ_w c(w1,w) — the denominator is the
    * PREFIX count, folded from the bigram counts themselves, so the
    * distribution sums to 1 per prefix. Unlike the unigram scorer's
    * one-row map scalar, the bigram vocabulary grows ~quadratically,
    * so scoring is the OPEN-VOCAB shape: explode each document's
    * bigrams once, equi-join the (bigram count, prefix count) model
    * (broadcast when small, shuffle otherwise — the planner decides
    * from stats), and re-group by document. Documents shorter than 2
    * tokens have no bigram and are dropped. Returns (doc_id,
    * n_bigrams LONG, mean_nll DOUBLE — natural log). */
  def bigramLogProb(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val t = split(text, " ")
    val base = docs
      .filter(size(t) >= 2)
      .select(id.cast("long").as("doc_id"),
              explode(functions.TokenNGrams.ngrams(t, 2)).as("bigram"))
    val bg = base.groupBy("bigram").agg(count(lit(1)).as("c12"))
    // Σ_w c(w1,w) == occurrences of w1 in positions 1..n-1 — the
    // direct form costs one explode + one narrow shuffle instead of
    // re-deriving the whole bigram count subtree
    val pref = docs
      .filter(size(t) >= 2)
      .select(explode(slice(t, lit(1), size(t) - 1)).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    base
      .join(bg, "bigram")
      .join(pref, split(col("bigram"), " ").getItem(0) === col("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
           (sum(-log(col("c12").cast("double") / col("c1"))) /
            count(lit(1))).as("mean_nll"))
  }

  /** Corpus bigram counts (bigram, c12) over adjacent whitespace
    * tokens — the shared input of [[knBigramScores]]'s four model
    * branches, a [[TempTables.shared]] table so the corpus pays one
    * explode, not one per branch. One codegen'd
    * [[functions.TokenNGrams]] explode → one map-side-combinable
    * count; docs shorter than 2 tokens have no bigram and are
    * dropped. */
  def bigramCounts(docs: DataFrame, text: Column): DataFrame = {
    val t = split(text, " ")
    TempTables.shared("bigram_counts",
      docs.filter(size(t) >= 2)
        .select(explode(functions.TokenNGrams.ngrams(t, 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c12")))()
  }

  /** Interpolated Kneser–Ney bigram model table (Kneser & Ney 1995;
    * the Chen & Goodman 1999 interpolated form) with the standard
    * discount d = 3/4, in EXACT integer fixed point:
    *
    *   P(w2|w1) = (c12 − d)/c1 + d·N1+(w1·)/c1 · Pcont(w2)
    *   Pcont(w2) = N1+(·w2)/N1+(··)
    *
    * where c12 = bigram count, c1 = Σ_w c(w1,w), N1+(w1·) = distinct
    * continuations of w1, N1+(·w2) = distinct histories of w2,
    * N1+(··) = total distinct bigram types. The continuation
    * probability is THE Kneser–Ney idea: "francisco" is frequent but
    * follows almost nothing except "san", so its unigram backoff mass
    * should be tiny — N1+ counts TYPES, not tokens. This is the
    * model a data pipeline fits to score corpus snapshots (the KN
    * table shifting between crawls is a distribution-drift signal
    * perplexity alone smears) and the classic n-gram LM baseline.
    *
    * With d = 3/4 every term is a ratio of integers scaled by 4, so
    * the returned score is exact fixed point — kn_micro =
    * ((4·c12−3)·10⁶) div (4·c1) + (3·N1+(w1·)·Pcont_micro) div (4·c1)
    * with Pcont_micro = (N1+(·w2)·10⁶) div N1+(··) — engine-portable
    * integer arithmetic end to end (rule F: no float ever enters the
    * comparison; c12 ≥ 1 makes the max(·,0) clamp vacuous). The two
    * nested integer divisions ARE the stated contract: this is a
    * fixed-point evaluation order, bit-identical everywhere.
    *
    * Scale shape: one codegen'd [[functions.TokenNGrams]] explode →
    * partial+final bigram-type count; the three model tables (per-w1
    * continuation stats, per-w2 history stats, the 1-row type total)
    * are vocab-scale aggregates OF that table, joined back on
    * vocab-scale keys — no corpus-scale row ever moves after the
    * first count, and every aggregate combines map-side. Returns
    * (bigram, c12, kn_micro), one row per distinct bigram.
    *
    * The model derives FOUR branches from the count table
    * (fol/pre/types/scores); inline, the planner re-runs the corpus
    * explode once per branch (the pushed isnotnull filters differ per
    * join key, so exchange reuse cannot dedup them — measured: 4 full
    * document scans in one plan), so it reads the shared
    * [[bigramCounts]] table. */
  def knBigramScores(docs: DataFrame, text: Column): DataFrame = {
    val bg = bigramCounts(docs, text)
      .select(col("bigram"), col("c12"),
              split(col("bigram"), " ").getItem(0).as("w1"),
              split(col("bigram"), " ").getItem(1).as("w2"))
    val fol = bg.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1p_fol"))
    val pre = bg.groupBy("w2").agg(count(lit(1)).as("n1p_pre"))
    val types = bg.agg(count(lit(1)).as("t_types"))
    bg.join(fol, "w1").join(pre, "w2").crossJoin(broadcast(types))
      .select(col("bigram"), col("c12"),
              (expr("((4*c12 - 3) * 1000000) div (4*c1)") +
               expr("(3 * n1p_fol * ((n1p_pre * 1000000) div t_types)) div (4*c1)"))
                .as("kn_micro"))
  }

  /** Corpus-wide PMI-scored collocations: the top-k adjacent token
    * pairs by pointwise mutual information, the classic
    * keyphrase/compound detector ("new york" scores high because the
    * pair count dwarfs what the unigram frequencies predict). With
    * M = total tokens, N = total adjacent pairs, c12 = pair count,
    * ca/cb = unigram counts: PMI = ln((c12·M·M) / (N·ca·cb)),
    * reported rounded to 6 decimals. The k-cut does NOT rank on the
    * rounded transcendental: PMI is monotone in the rational
    * c12/(ca·cb) (M, N are corpus constants), and that ratio is ONE
    * IEEE division of exactly-representable longs — bit-identical on
    * every engine — so the ordering is exact where a log-based rank
    * could flap at rounding boundaries. Pairs below `minCount` are
    * noise (PMI of a hapax pair is unboundedly high) and are cut
    * BEFORE the unigram joins.
    *
    * Scale shape: one codegen'd [[functions.TokenNGrams]] explode →
    * partial+final pair count; unigram counts are a second narrow
    * aggregate; M and N are 1-row broadcast scalars; the two
    * unigram attaches are vocabulary-scale equi-joins (broadcast
    * when small — the planner decides from stats); the final cut is
    * orderBy+limit = TakeOrderedAndProject (k-bounded partials, no
    * global sort materializes). Returns (w1, w2, n_pair, pmi) in
    * rank order. */
  def collocations(docs: DataFrame, text: Column,
                   minCount: Long = 5L, k: Int = 100): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    val t = split(text, " ")
    val uni = docs.select(explode(t).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // M = Σ c and N = Σ n_pair, but both fold as one-row sums straight
    // off the scan (Σ len, Σ len−1) — no need to re-run the vocab /
    // bigram shuffle aggregations just to total them
    val m = docs.agg(sum(size(t)).cast("long").as("__m"))
    val pairs = docs.filter(size(t) >= 2)
      .select(explode(functions.TokenNGrams.ngrams(t, 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_pair"))
    val n = docs.filter(size(t) >= 2)
      .agg(sum(size(t) - 1).cast("long").as("__n"))
    pairs
      .filter(col("n_pair") >= minCount)
      .select(split(col("bigram"), " ").getItem(0).as("w1"),
              split(col("bigram"), " ").getItem(1).as("w2"),
              col("n_pair"))
      .join(uni.select(col("w").as("w1"), col("c").as("__ca")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("__cb")), Seq("w2"))
      .crossJoin(broadcast(m)).crossJoin(broadcast(n))
      // rank key: exact rational; display: rounded log. Products stay
      // < 2^53 (token counts are corpus-bounded), so every operand is
      // an exactly-represented integer and the division is one
      // deterministically-rounded IEEE op
      .withColumn("__r", col("n_pair").cast("double")
                           / (col("__ca") * col("__cb")).cast("double"))
      .withColumn("pmi",
        round(log(col("n_pair").cast("double") * col("__m") * col("__m")
                    / (col("__n").cast("double") * col("__ca") * col("__cb"))),
              6))
      .orderBy(col("__r").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "n_pair", "pmi")
  }

  /** Single-scan column profile — the data-quality primitive behind
    * every ingest dashboard: per named column, (n_rows, n_null,
    * n_distinct) in long format, all exact integers (cross-engine
    * safe for ANY column type — no min/max string rendering to
    * diverge). ONE scan: all 2k+1 measures fold in one aggregate;
    * the multiple exact COUNT(DISTINCT)s plan as Spark's Expand
    * (k× row multiplication, but each expanded row carries only its
    * own column after pruning, and partial aggregation combines
    * map-side before the single shuffle). At extreme width/scale,
    * swap exact distincts for approx_count_distinct and the Expand
    * disappears — the declared query keeps the exact form, which is
    * what an oracle can verify. The melt runs on the ONE-row
    * aggregate (metadata-scale), never on facts. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val measures = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as(s"__null_$c"),
          countDistinct(col(c)).as(s"__dist_$c"))
    }
    df.agg(count(lit(1)).cast("long").as("__rows"), measures: _*)
      .select(col("__rows"), explode(array(cols.map(c =>
          struct(lit(c).as("column"),
                 col(s"__null_$c").as("n_null"),
                 col(s"__dist_$c").as("n_distinct"))): _*)).as("__s"))
      .select(col("__s.column").as("column"), col("__rows").as("n_rows"),
              col("__s.n_null").as("n_null"),
              col("__s.n_distinct").as("n_distinct"))
  }

  /** Pairwise Pearson correlation matrix over named numeric columns
    * in ONE scan (round 9) — [[profile]]'s numeric sibling, the
    * feature-redundancy check before a model ingests a wide table.
    * Output: one long-format row per unordered pair (var_a, var_b in
    * `cols` order, a before b), corr UNROUNDED; callers round.
    *
    * All k·(k−1)/2 `corr` measures fold in a SINGLE partial+final
    * aggregate — Spark's Pearson aggregate keeps O(1) co-moment
    * state per pair and combines map-side, so the fact table is
    * scanned once and the shuffle carries one row per partition.
    * The melt to long format runs on the one-row result
    * (metadata-scale). Quadratic in k only in aggregate-buffer
    * width: fine for the tens-of-columns feature tables this serves;
    * a thousands-wide embedding matrix wants
    * [[topPrincipalComponent]]'s vector kernel instead. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    require(cols.forall(df.columns.contains),
      s"columns must exist in ${df.columns.mkString(",")}")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val measures = pairs.map { case (a, b) =>
      corr(col(a), col(b)).as(s"__corr_${a}__$b")
    }
    df.agg(measures.head, measures.tail: _*)
      .select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("var_a"), lit(b).as("var_b"),
               col(s"__corr_${a}__$b").as("corr"))
      }: _*)).as("__s"))
      .select(col("__s.var_a").as("var_a"), col("__s.var_b").as("var_b"),
              col("__s.corr").as("corr"))
  }

  /** Deterministic epoch-shuffle key: a seeded bijective scramble of
    * the id residues — ORDER BY (epochShuffleKey(id, seed), id) is the
    * reproducible global shuffle a training run needs per epoch (same
    * permutation on every engine, every run, at any parallelism;
    * change the seed, change the epoch order). Pure overflow-safe
    * integer arithmetic, same multiplicative-hash family as
    * [[deterministicKeep]]: the id is reduced mod P = 1e9+7 BEFORE the
    * Knuth multiply so the product stays < 2^62, and K mod P ≠ 0 with
    * P prime makes the map a bijection on [0, P) — distinct residues
    * never collide. */
  /** Deterministic STRATIFIED sampling: exactly min(n, |stratum|)
    * rows per stratum — the exact-count sibling of the rate-based
    * [[deterministicKeep]] (a training pipeline uses both: rates for
    * mixtures, exact counts for eval splits and per-domain caps).
    * Selection is reproducible on any engine/run/parallelism: the n
    * smallest [[epochShuffleKey]](id, seed) per stratum win. The cut
    * is the bounded [[TopK]] partial aggregate per stratum — ≤ n
    * entries per stratum leave each map task and there is NO
    * per-stratum window sort, so a hot stratum (one domain = half the
    * corpus) degrades map-side instead of serializing one task.
    * Returns (stratum, id, pos) with pos 1-based in key order. */
  def stratifiedSample(df: DataFrame, stratum: Column, id: Column,
                       n: Int, seed: Long): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val topAgg = udaf(TopK.agg(n))
    df.select(stratum.as("stratum"), id.cast("long").as("__id"))
      .filter(col("__id").isNotNull)     // a NULL id cannot be sampled
      // negate: TopK keeps the HIGHEST scores; key < 1e9+7 is exact
      // in double, so the order is the exact integer key order
      .select(col("stratum"), col("__id"),
              negate(epochShuffleKey(col("__id"), seed).cast("double")).as("__nk"))
      .groupBy("stratum")
      .agg(topAgg(col("__id"), col("__nk")).as("__top"))
      .select(col("stratum"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("stratum"), col("__e.id").as("id"),
              (col("__pos") + 1).cast("int").as("pos"))
  }

  def epochShuffleKey(id: Column, seed: Long): Column = {
    require(seed >= 0 && seed < 1000000007L,
      s"seed must be in [0, 1e9+7), got $seed")
    pmod(pmod(pmod(id.cast("long"), lit(1000000007L)) + seed, lit(1000000007L))
           * 2654435761L, lit(1000000007L))
  }
}
