package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-2 training-data-pipeline extensions (SURVEY.md §2.12): the
  * operators a 100 TB LLM-data pipeline needs beyond the reference's
  * own surface — n-gram near-dup, quality scoring, language ID, token
  * counting. All oracle-checkable; the hash-based extensions (SimHash,
  * winnowing, IVF) live in their own objects with unit-test coverage.
  */
object PipelineOps {

  private def toks = split(col("text"), " ")

  /** The word-3-gram Jaccard pair graph (doc_a, doc_b, jaccard) at
    * J ≥ 0.8 — the shared input of [[q_dedup_ngram]] (pair list) and
    * [[q_dedup_cluster]] (components over it). Built ONCE per input
    * via [[graft.TempTables.shared]] — temp PARQUET, not
    * localCheckpoint: the CC loop and q_dedup_drop's anti-join
    * consume this table, and an RDD-backed scan would report
    * `defaultSizeInBytes` and cost them their broadcast plans (the
    * §2.14 edge-table lesson, TempTables scaladoc). At cluster scale
    * this is "write the pair graph to a table once, read it twice" —
    * identical shape.
    *
    * The build runs the exact prefix path of
    * [[graft.operators.GramPairs]] ([[graft.Graft.jaccardJoinPrefix]])
    * over the shared rarity table instead of the full inverted-index
    * join: each doc indexes only ~the rarest fifth of its grams and
    * survivors verify row-locally instead of through a corpus-scale
    * groupBy count. The 10 consumers' oracles stay the brute-force SQL,
    * blind to the pruning strategy. The full-inverted-index count path
    * stays live as
    * [[graft.Graft.nearDupPairsNgram]] (q_dedup_ngram_capped's lossy
    * cap and [[graft.Graft.nearDupBands]]' sweep genuinely need the
    * per-pair common COUNT over the whole gram universe).
    *
    * Keyed by the documents read, with (t = 0.8, n = 3) fixed here:
    * the pair graph's eight consumers run in every pass, and
    * constructing the prefix-join plan just to compute a key costs
    * about 0.2 s of driver-side analysis per call, which a hit must
    * not pay. */
  private def ngramPairGraph(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.TempTables.shared("ngram_pairs", docs)(
      graft.Graft.jaccardJoinPrefix(docs,
        col("doc_id"), col("text"), thresholdPermille = 800, n = 3))
  }

  /** Component labels over [[ngramPairGraph]], computed ONCE per pair
    * graph and shared by [[q_dedup_cluster]] (membership accounting)
    * and [[q_dedup_drop]] (removal) — the "write the labeling once,
    * read it twice" shape of a real pipeline; without it each consumer
    * re-runs the O(log n) components loop. Keyed by the pair graph it
    * labels (the loop is eager, so it runs only on a miss). Temp
    * parquet for the same stats reason: q_dedup_drop joins documents
    * against these metadata-scale labels and should broadcast them. */
  private def ngramCcLabels(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramPairGraph(s, d).select(col("doc_a"), col("doc_b"))
    graft.TempTables.shared("ngram_cc", pairs)(
      graft.operators.ConnectedComponents
        // the probe fast path is opt-in and safe here: the pair graph
        // is a shared stats-bearing parquet table, so the gate probe
        // costs one bounded file read
        .alternatingStar(pairs,
          localMaxEdges = graft.operators.ConnectedComponents.LocalMaxEdges))
  }

  /** Word-3-gram Jaccard near-dup pairs at ≥ 0.8, never all-pairs:
    * since round 14 the shared pair graph builds through the EXACT
    * AllPairs/PPJoin prefix+positional filter
    * ([[graft.Graft.jaccardJoinPrefix]] over the shared rarity
    * table — see [[ngramPairGraph]] for the r13-verdict rationale
    * and the measured candidate cut), so this query IS that public
    * facade applied to the documents table at t = 0.8 and the
    * oracle — plain brute-force n-gram Jaccard SQL, blind to the
    * pruning strategy — verifies its exactness end-to-end. Work ∝
    * Σ prefix-bucket², bounded by the ~(1−t) rarest gram fraction,
    * not corpus². Pair graph shared with [[q_dedup_cluster]] via
    * [[ngramPairGraph]]. */
  def q_dedup_ngram(s: SparkSession, d: String): DataFrame =
    ngramPairGraph(s, d).orderBy("doc_a", "doc_b")

  /** [[q_dedup_ngram]] with the LOSSY stop-gram cap engaged
    * (`maxGramDocFreq = 5` — chosen to FIRE at every test sf, from 45
    * stop grams at sf0.001 to ~25k at sf0.1): grams above the
    * document-frequency cap leave the gram universe before anything
    * quadratic and Jaccard is recomputed over what remains. The
    * 100 TB stop-gram remedy as a first-class, oracle-verified query
    * — the semantics CHANGE vs q_dedup_ngram (deliberately: that is
    * what the cap is), so the oracle applies the same cap in SQL. */
  def q_dedup_ngram_capped(s: SparkSession, d: String): DataFrame =
    graft.Graft.nearDupPairsNgram(Tables.documents(s, d),
        col("doc_id"), col("text"), maxGramDocFreq = 5)
      .orderBy("doc_a", "doc_b")

  /** EXACT prefix-filtered Jaccard pairs (AllPairs/PPJoin prefix
    * filter) at t = 0.7 over the word-3-gram sets:
    * [[graft.Graft.jaccardJoinPrefix]] applied to documents, so the
    * oracle verifies the public API. Exactness is the prefix theorem
    * of [[graft.operators.GramPairs]], not a cap: the oracle is the
    * plain brute-force n-gram Jaccard SQL, blind to the pruning
    * strategy. The third face of
    * the near-dup family: q_dedup_ngram = full inverted index (exact,
    * blocked), q_dedup_ngram_capped = lossy stop-gram cap,
    * q_jaccard_prefix = exact AND stop-gram-immune (frequent grams
    * sort last in rarity order and never enter a prefix). */
  def q_jaccard_prefix(s: SparkSession, d: String): DataFrame =
    graft.Graft.jaccardJoinPrefix(Tables.documents(s, d),
        col("doc_id"), col("text"), thresholdPermille = 700)
      .orderBy("doc_a", "doc_b")

  /** Sorted-neighborhood near-dup pairs (added round 8): order docs
    * by n_chars (tie doc_id), pair each with its next 7 neighbors,
    * keep exact token-set Jaccard ≥ 0.9 —
    * [[graft.Graft.sortedNeighborPairs]] applied to documents, so
    * the oracle verifies the public API. The FOURTH blocking family
    * (inverted index / LSH bands / prefix filter / sorted window),
    * and the only one whose candidate volume is skew-immune BY
    * CONSTRUCTION: exactly w−1 partners per doc, no bucket to go
    * quadratic. Ranks via the two-pass distributed globalRankDesc —
    * the oracle's ROW_NUMBER window states the same total order. */
  def q_dedup_sorted(s: SparkSession, d: String): DataFrame =
    graft.Graft.sortedNeighborPairs(Tables.documents(s, d),
        col("doc_id"), col("text"), sortKey = col("n_chars"),
        w = 8, thresholdPermille = 900)
      .orderBy("doc_a", "doc_b")

  /** Edit-distance near-dup pairs on the CANONICAL string (sorted
    * distinct tokens — word-order/repetition-invariant), candidates
    * blocked by (lang, first canon token, distinct-token count):
    * [[graft.Graft.fuzzyDupPairs]] applied to documents, so the
    * oracle verifies the public API. Levenshtein runs in Spark's
    * banded threshold form (early-exit at maxDist=8); cross-block
    * pairs are unseen by declaration (the LSH-banding stance), and a
    * hot block is decomposed so no task sees a whole one. edit_dist
    * cast to long for rule I (DuckDB levenshtein returns BIGINT). */
  def q_dedup_fuzzy(s: SparkSession, d: String): DataFrame =
    graft.Graft.fuzzyDupPairs(Tables.documents(s, d),
        col("doc_id"), col("text"),
        partitionBy = Seq(col("lang")), maxDist = 8)
      .select(col("doc_a"), col("doc_b"), col("edit_dist").cast("long").as("edit_dist"))
      .orderBy("doc_a", "doc_b")

  /** Per-document word-3-gram NOVELTY (round 10) — share of a doc's
    * distinct grams with corpus document frequency EXACTLY 1:
    * [[graft.Graft.ngramNovelty]] on documents, which reads the SHARED
    * gram-df table (third consumer after the prefix filter's rarity
    * order and the stop-gram hot list), so the oracle verifies the
    * public facade AND the sharing path. The
    * curation signal complementing dup-rate: a doc can be pair-clean
    * yet assembled entirely from corpus-common fragments (novelty ≈
    * 0). Integer floor-div permille (rule F). */
  def q_ngram_novelty(s: SparkSession, d: String): DataFrame =
    graft.Graft.ngramNovelty(Tables.documents(s, d),
        col("doc_id"), col("text"), n = 3)
      .orderBy("doc_id")

  /** The corpus stop-gram report (round 10): top-25 word-3-grams by
    * document frequency (ties broken by gram text — a unique total
    * order, rule O) with integer floor-div df permille — the table an
    * operator READS to pick `maxGramDocFreq` for the lossy capped
    * dedup variants, now a first-class oracle-checked query over the
    * same shared gram-df parquet (fourth consumer). Plan:
    * vocab-scale file scan → TakeOrderedAndProject (per-partition
    * top-k heaps, ≤ 25 rows to the driver merge — no global sort);
    * the 1-row corpus count crosses via broadcast. */
  def q_boilerplate_grams(s: SparkSession, d: String): DataFrame = {
    val nDocs = Tables.documents(s, d)
      .filter(size(toks) >= 3)
      .agg(count(lit(1)).as("n_docs"))
    graft.Graft.gramDocFreq(Tables.documents(s, d), col("doc_id"), col("text"), n = 3)
      .crossJoin(broadcast(nDocs))
      .select(col("gram"), col("gdf"),
              expr("gdf * 1000L div n_docs").as("df_permille"))
      .orderBy(col("gdf").desc, col("gram"))
      .limit(25)
  }

  /** SPAN-level eval decontamination (round 10) — verbatim 16-token
    * span overlap between the eval slice (doc_id < 10, the
    * q_contamination convention) and the corpus:
    * [[graft.Graft.spanContamination]] on documents, so the oracle
    * verifies the public facade. The exact-substring sibling of
    * q_contamination's n-gram-overlap check: one row PER EVAL DOC
    * (zeros = explicit all-clear, so a clean corpus still reports).
    * Span text never shuffles — both sides key on the shared
    * `Graft.spanHash` 128-bit pair and the tiny-by-definition eval
    * span set broadcasts, so corpus spans stream map-side. */
  def q_span_contamination(s: SparkSession, d: String): DataFrame =
    graft.Graft.spanContamination(Tables.documents(s, d),
        col("doc_id"), col("text"), isEval = col("doc_id") < 10,
        spanTokens = 16)
      .orderBy("eval_id")

  /** Incremental span-dedup accounting (round 10) — the batch-vs-
    * corpus face of q_span_dedup, mirroring q_dedup_incremental's
    * even/odd split: corpus = even doc_id (the standing span index),
    * batch = odd doc_id; per batch doc, the share of its disjoint
    * 16-token spans already present in the corpus:
    * [[graft.Graft.duplicatedSpansAgainst]], so the oracle verifies
    * the public facade. At 100 TB the distinct-hash index is built
    * once and probed per crawl — work linear in the batch. */
  def q_span_incremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.Graft.duplicatedSpansAgainst(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
        spanTokens = 16)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** q_span_dedup's SLIDING-stride variant (round 10): spans cut
    * every 4 tokens instead of disjointly, so a duplicated region
    * registers at any alignment within 4 tokens (stride trades cost
    * ×4 for the alignment-robustness the disjoint cut lacks — the
    * facade documents the stride-1 exact-substring limit). Same
    * linear shape, same hash-keyed shuffle; the oracle states the
    * identical overlapping cut in list-slice arithmetic. */
  def q_span_dedup_sliding(s: SparkSession, d: String): DataFrame =
    graft.Graft.duplicatedSpanStats(Tables.documents(s, d),
        col("doc_id"), col("text"), spanTokens = 16, stride = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Split-document stitch detection (round 10):
    * [[graft.Graft.stitchPairs]] at boundary 4 over documents — pairs
    * whose 4-token tail/head match verbatim (the pagination /
    * chunked-export / truncated-post reassembly signal; a production
    * crawl would run 16-32, this corpus's vocabulary only produces
    * boundary echoes at 4). One hash equi-join on the shared
    * `Graft.spanHash` pair; oracle states the same suffix = prefix
    * list-slice join, blind to hashing. */
  def q_stitch_pairs(s: SparkSession, d: String): DataFrame =
    graft.Graft.stitchPairs(Tables.documents(s, d),
        col("doc_id"), col("text"), boundaryTokens = 4)
      .orderBy("doc_a", "doc_b")

  /** Split-document REASSEMBLY (round 11) — closes the loop from
    * detection ([[q_stitch_pairs]]) to repair, the way q_span_drop
    * closes it for span accounting: the stitch pairs become edges,
    * [[graft.operators.ConnectedComponents.alternatingStar]] groups
    * fragments into reassembled documents, and each chain reports its
    * repair accounting — fragment count, stitch-pair count, raw token
    * total, and the stitched token total after dropping one copy of
    * the 4-token shared boundary per WELD. Welds = n_fragments − 1
    * (the spanning tree of the component), NOT n_pairs: a dense or
    * cyclic pair set (identical fragments pair in both directions)
    * carries more pairs than welds, and subtracting per pair would
    * double-count boundaries into a negative token total (review
    * catch, round 11); per spanning-tree weld the result is provably
    * ≥ 4 (every fragment has ≥ 4 tokens or it has no boundary and
    * never pairs). Output per chain: (chain_rep = min fragment id,
    * n_fragments, n_pairs, total_tokens, stitched_tokens) —
    * chain_rep unique (rule O), all integers (rule I).
    *
    * Scale shape: the corpus-scale work is stitchPairs' one hash
    * equi-join (16-byte span-hash keys); the pair set is
    * metadata-scale by construction and round-trips through temp
    * parquet ONCE because the CC loop and the per-chain stitch count
    * both consume it (the §2.14 edge-table stats lesson); the CC loop
    * is O(log n) rounds over pair-scale edges; token sizes join
    * row-local counts against pair-scale labels. */
  def q_stitch_repair(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // shared per input, not rebuilt per invocation: the pair detection
    // join and the O(log n) CC loop are both deterministic functions
    // of the corpus, and rebuilding them on every call re-paid the
    // corpus-scale span-hash join plus the whole multi-job star loop
    // each time (~2-3 s of this query's steady driver reading). The
    // ngram_cc precedent exactly: build once, price the build in
    // temp_builds, every invocation reads the stats-bearing parquet
    // tables.
    val pairs = graft.TempTables.shared("stitch_pairs",
      graft.Graft.stitchPairs(docs, col("doc_id"), col("text"), boundaryTokens = 4)
        .select(col("doc_a"), col("doc_b")))()
    // the CC loop's labeling is RDD-backed (localCheckpoint lineage
    // truncation) and TWO joins consume it — parquet round-trip keeps
    // relation stats so both stay broadcast-able (the §2.14 lesson);
    // keyed by the pairs it labels, so the loop runs only on a miss
    val labels = graft.TempTables.shared("stitch_cc", pairs)(
      // pairs is a shared parquet table — the opt-in probe fast path
      // costs one bounded file read here
      graft.operators.ConnectedComponents.alternatingStar(pairs,
        localMaxEdges = graft.operators.ConnectedComponents.LocalMaxEdges))
    val sizes = docs.select(col("doc_id"), size(toks).cast("long").as("n_toks"))
    val members = labels.join(sizes, col("node") === col("doc_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_fragments"), sum("n_toks").as("total_tokens"))
    val stitches = labels.select(col("node").as("doc_a"), col("label"))
      .join(pairs, "doc_a")
      .groupBy("label").agg(count(lit(1)).as("n_pairs"))
    members.join(stitches, "label")
      .select(col("label").as("chain_rep"), col("n_fragments"), col("n_pairs"),
              col("total_tokens"),
              (col("total_tokens") - (col("n_fragments") - 1) * 4)
                .as("stitched_tokens"))
      .orderBy("chain_rep")
  }

  /** PII scan + redaction accounting (round 11) — the scrub stage
    * every production pipeline runs before data leaves the raw zone:
    * per doc the email / phone / dotted-quad-IP hit counts and the
    * characters a redaction pass removes, via
    * [[graft.Graft.piiSignals]] (RE2-compatible patterns, so the
    * oracle's RE2 engine and Spark's Java regex agree
    * match-for-match). The corpus itself is synthetic words, so the
    * query SYNTHESIZES deterministic PII first (the q_media_decode
    * precedent: synthesize → process → verify blind): docs with
    * doc_id ≡ 0 mod 5/7/11 get an appended email / 555-phone / IP
    * built from pure integer arithmetic on doc_id — identical
    * string algebra in both engines, and the UNTOUCHED docs assert
    * the zero row explicitly. Row-local end to end: the only
    * exchange at any scale is the output sort. */
  def q_pii_scan(s: SparkSession, d: String): DataFrame = {
    val injected = concat(
      col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" user"), col("doc_id").cast("string"),
               lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" 555-"),
               lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
               (expr("doc_id div 256") % 256).cast("string")))
        .otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("doc_id"), graft.Graft.piiSignals(injected).as("p"))
      .select(col("doc_id"), col("p.n_emails"), col("p.n_phones"),
              col("p.n_ips"), col("p.redacted_chars"))
      .orderBy("doc_id")
  }

  /** HTML/boilerplate EXTRACTION report (round 15) — the raw-crawl →
    * text stage that runs BEFORE every operator this engine has
    * (round-14 verdict #6): each document is wrapped in a
    * deterministic HTML shell built from pure integer string algebra
    * on doc_id (the q_pii_scan synthesize-then-verify precedent —
    * head/title/style, a nav bar, `<p>` body, a footer, and on
    * doc_id % 3 = 0 an entity-escaped sentence that must unescape to
    * ` Tom & Jerry <3`), then [[graft.Graft.htmlExtract]] strips it
    * back. Because the clean text is KNOWN, the report carries the
    * strongest possible check — n_roundtrip counts docs whose
    * extraction equals the expected text EXACTLY — plus the
    * accounting a crawl dashboard reads: per-source raw HTML chars,
    * extracted chars, boilerplate permille. Row-local end to end
    * (synthesis, extraction, equality are all mappers; one
    * metadata-scale rollup) — at 100 TB this is scan-bound, zero
    * data shuffle. All-integer outputs (rule I); source unique
    * (rule O); the oracle re-runs the same synthesis + the same four
    * extraction passes in DuckDB SQL (RE2 ≡ Java regex on these
    * patterns — the piiSignals compatibility stance). */
  def q_html_extract(s: SparkSession, d: String): DataFrame = {
    val entity = when(col("doc_id") % 3 === 0,
      lit(" Tom &amp; Jerry &lt;3")).otherwise(lit(""))
    val html = concat(
      lit("<html><head><title>d"), col("doc_id").cast("string"),
      lit("</title><style>body{margin:0}</style></head><body><nav>home | docs | sec"),
      (col("doc_id") % 10).cast("string"),
      lit("</nav><p>"), col("text"), entity,
      lit("</p><footer>(c) 20"),
      lpad((col("doc_id") % 25).cast("string"), 2, "0"),
      lit(" corp</footer></body></html>"))
    val want = concat(col("text"),
      when(col("doc_id") % 3 === 0, lit(" Tom & Jerry <3")).otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("source"), length(html).as("html_chars"),
              graft.Graft.htmlExtract(html).as("got"), want.as("want"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("html_chars")).as("html_chars"),
           sum(length(col("got"))).as("text_chars"),
           sum(when(col("got") === col("want"), lit(1L)).otherwise(lit(0L)))
             .as("n_roundtrip"))
      .withColumn("boiler_permille",
        expr("(html_chars - text_chars) * 1000 div html_chars"))
      .coalesce(1).orderBy("source")
  }

  /** Outlink extraction + host-graph accounting (round 15) — the
    * crawl-frontier face next to [[q_html_extract]] (content) and
    * [[q_domain_caps]] (per-domain caps): each doc's HTML carries
    * 1 + doc_id mod 3 deterministic `<a href>` links whose target
    * domains come from the SAME doc_id hash as q_domain_caps
    * (j-th link → domain (did + 31·j) mod 97; j = 0 lands on the
    * doc's own domain, so every doc has exactly one internal link
    * and 0-2 external ones — both branches of the internal/external
    * split are exercised by construction). Extraction is
    * `regexp_extract_all(html, 'href="([^"]+)"', 1)` — the capture-
    * group API both engines share — then per source: docs, links,
    * internal/external counts, distinct target domains, external
    * permille — the outlink profile a crawl scheduler reads to
    * budget frontier expansion per source.
    *
    * Scale shape: synthesis + extraction are row-local; ONE linear
    * explode of the ≤ 3-element URL array, then one rollup whose
    * two distincts (doc_id, target domain) shuffle composite keys
    * once — no pair expansion anywhere. All-integer (rule I),
    * source unique (rule O). */
  /** The deterministic link-domain synthesis every host-graph query
    * keys on (q_html_links / q_anchor_text / q_crawl_frontier /
    * q_url_canon / q_domain_caps): [[linkDid]] hashes doc_id into the
    * 97-host space, [[siteDomain]] renders a host id as
    * site<N>.<tld>. ONE Spark-side definition site so the five
    * consumers can never drift apart (their oracles re-state it in
    * SQL by design — the synthesized-damage convention). */
  private def linkDid: org.apache.spark.sql.Column =
    col("doc_id") % 1000000007L * 2654435761L % 97L

  private def siteDomain(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("site"), c.cast("string"),
      when(c % 3 === 0, lit(".com"))
        .when(c % 3 === 1, lit(".org"))
        .otherwise(lit(".net")))

  def q_html_links(s: SparkSession, d: String): DataFrame = {
    val did = linkDid
    def linkJ(j: Int): org.apache.spark.sql.Column = {
      val t = (did + j * 31L) % 97L
      when(col("doc_id") % 3 >= j,
        concat(lit("<a href=\"https://"), siteDomain(t), lit("/doc/"),
               (col("doc_id") % 1000000007L * 13L + j).cast("string"),
               lit("\">l" + j + "</a>")))
        .otherwise(lit(""))
    }
    val html = concat(lit("<p>"), col("text"), lit("</p>"),
                      linkJ(0), linkJ(1), linkJ(2))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), siteDomain(did).as("own"),
              html.as("html"))
      .select(col("source"), col("doc_id"), col("own"),
              explode(expr("""regexp_extract_all(html, 'href="([^"]+)"', 1)"""))
                .as("url"))
      .select(col("source"), col("doc_id"), col("own"),
              regexp_extract(col("url"), "https://([^/]+)/", 1).as("target"))
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_links"),
           sum(when(col("target") === col("own"), lit(1L)).otherwise(lit(0L)))
             .as("n_internal"),
           sum(when(col("target") =!= col("own"), lit(1L)).otherwise(lit(0L)))
             .as("n_external"),
           countDistinct(col("target")).as("n_target_domains"))
      .withColumn("external_permille",
        expr("n_external * 1000 div n_links"))
      .coalesce(1).orderBy("source")
  }

  /** Incoming anchor-text aggregation per target domain (round 16) —
    * the web-graph description signal next to [[q_html_links]]'s
    * counts: what the REST of the corpus calls a page is a quality/
    * relevance feature its own content can't provide (the classic
    * anchor-text index every web-scale ranker builds). Same
    * deterministic link synthesis as q_html_links (did-hash target
    * domains, doc_id mod 3 + 1 links per doc) but each anchor's text
    * is the linking doc's FIRST TOKEN — so anchors genuinely vary
    * per linker and aggregation is meaningful. The extractor runs
    * blind on the HTML: pull `<a href="...">...</a>` elements, split
    * target domain and anchor text per element, then per target:
    * in-link count, distinct anchor texts, and the consensus anchor
    * (count DESC, anchor ASC — rule O total order) with its count.
    *
    * Scale shape: element extraction is a row-local
    * regexp_extract_all explode; the (target, anchor) count is one
    * map-side-combinable aggregate collapsing the corpus to ≤
    * domains × first-token-vocab rows; the consensus window
    * partitions those metadata-scale rows by target — never the
    * corpus — and the rollup folds the rank-1 row in via conditional
    * aggregates, ONE pass over the counts (no self-join: the
    * q_dedup_url double-planning lesson). At 100 TB this is exactly
    * the anchor-index build:
    * payloads never shuffle, only (target, anchor, count) triples.
    * Oracle re-synthesizes and re-extracts in SQL, blind to the
    * Spark expressions. */
  def q_anchor_text(s: SparkSession, d: String): DataFrame = {
    val did = linkDid
    val w0 = substring_index(col("text"), " ", 1)
    def linkJ(j: Int): org.apache.spark.sql.Column =
      when(col("doc_id") % 3 >= j,
        concat(lit("<a href=\"https://"), siteDomain((did + j * 31L) % 97L),
               lit("/\">"), w0, lit("</a>")))
        .otherwise(lit(""))
    val html = concat(lit("<p>"), col("text"), lit("</p>"),
                      linkJ(0), linkJ(1), linkJ(2))
    val counts = Tables.documents(s, d)
      .select(html.as("html"))
      .select(explode(expr(
        """regexp_extract_all(html, '<a href="[^"]*">[^<]*</a>', 0)"""))
        .as("el"))
      .select(regexp_extract(col("el"), "https://([^/]+)/", 1).as("target"),
              regexp_extract(col("el"), ">([^<]*)<", 1).as("anchor"))
      .groupBy("target", "anchor").agg(count(lit(1)).as("n"))
    counts
      .repartitionByRange(col("target"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("target").orderBy(col("n").desc, col("anchor").asc)))
      .groupBy("target")
      .agg(sum(col("n")).as("n_inlinks"),
           countDistinct(col("anchor")).as("n_anchors"),
           max(when(col("rk") === 1, col("anchor"))).as("top_anchor"),
           max(when(col("rk") === 1, col("n"))).as("top_anchor_n"))
      .orderBy("target")
  }

  /** Crawl-frontier accounting per source (round 16) — the
    * scheduling decision [[q_html_links]]' outlink counts feed: of
    * the domains a source links to, which are ALREADY in the crawl
    * ledger and which are FRONTIER (never fetched — the expansion
    * budget)? The ledger is a deterministic SCALE-STABLE subset of
    * the domain space — hosts whose hash satisfies did mod 5 ≤ 1
    * (~40% fetched at ANY corpus size; a doc-membership cut would
    * saturate to full coverage as the corpus grows and the frontier
    * would vanish, the degenerate case measured and rejected) — and
    * the probe is the canonical frontier shape: outlink targets
    * LEFT-join the ≤ 97-row distinct ledger dim, unmatched =
    * frontier. Per source: links,
    * distinct target domains, ledger-covered vs frontier link counts,
    * integer frontier permille, and distinct frontier domains (the
    * number of NEW hosts this source alone would add to the queue).
    *
    * Scale shape: link synthesis row-local; the ledger collapses to
    * a ≤ |domains|-row broadcast dim (at 100 TB: the crawl-state
    * table, bloom- or broadcast-probed exactly like this); ONE
    * rollup whose distincts shuffle composite keys once. All-integer
    * (rule I), source unique (rule O); oracle mirrors ledger and
    * probe in SQL. */
  def q_crawl_frontier(s: SparkSession, d: String): DataFrame = {
    val did = linkDid
    val docs = Tables.documents(s, d)
    val ledger = docs.filter(did % 5 <= 1)
      .select(siteDomain(did).as("domain")).distinct()
      .withColumn("covered", lit(1L))
    val targets = docs
      .select(col("source"), col("doc_id"),
              explode(array((0 to 2).map(j =>
                when(col("doc_id") % 3 >= j,
                     siteDomain((did + j * 31L) % 97L))): _*))
                .as("target"))
      .filter(col("target").isNotNull)
    targets
      .join(broadcast(ledger), targets("target") === ledger("domain"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_links"),
           countDistinct(col("target")).as("n_targets"),
           sum(coalesce(col("covered"), lit(0L))).as("n_covered_links"),
           sum(when(col("covered").isNull, 1L).otherwise(0L))
             .as("n_frontier_links"),
           countDistinct(when(col("covered").isNull, col("target")))
             .as("n_frontier_domains"))
      .withColumn("frontier_permille",
                  expr("n_frontier_links * 1000 div n_links"))
      .coalesce(1).orderBy("source")
  }

  /** URL canonicalization accounting (round 15) — the
    * [[q_unicode_norm]] of the URL family: URL-level dedup and the
    * [[q_domain_caps]] accounting are only as good as the canonical
    * key (the same page hides behind a cased host, an explicit :443,
    * a trailing slash, and utm_* tracking params). Each doc gets a
    * deterministic messy URL (host from the q_domain_caps hash;
    * doc_id mod 2/3/5/7/11 independently switch tracking params,
    * host casing, the default port, a trailing slash, and a non-utm
    * `ref` param that must SURVIVE), [[graft.Graft.urlCanonicalize]]
    * normalizes it, and — because the canonical form is known
    * analytically — n_roundtrip counts exact matches, next to the
    * per-source changed count/permille and the characters saved.
    * Row-local end to end + ONE metadata-scale rollup; all-integer
    * (rule I), source unique (rule O); the oracle re-runs synthesis
    * + the same five passes in DuckDB (RE2-compatible patterns, no
    * capture-group replacement — the piiSignals stance). */
  def q_url_canon(s: SparkSession, d: String): DataFrame = {
    val did = linkDid
    val host = concat(lit("https://"), siteDomain(did))
    val cased = when(col("doc_id") % 3 === 0, upper(host)).otherwise(host)
    val port = when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit(""))
    val path = concat(lit("/doc/"),
      (col("doc_id") % 1000000007L).cast("string"))
    val slash = when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit(""))
    val utm = col("doc_id") % 2 === 0
    val ref = col("doc_id") % 11 === 0
    val qs = when(utm && ref, lit("?utm_source=feed&utm_campaign=x&ref=kept"))
      .when(utm, lit("?utm_source=feed&utm_campaign=x"))
      .when(ref, lit("?ref=kept"))
      .otherwise(lit(""))
    val url = concat(cased, port, path, slash, qs)
    val want = concat(host, path,
      when(ref, lit("?ref=kept")).otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("source"), url.as("url"), want.as("want"))
      .select(col("source"), col("url"), col("want"),
              graft.Graft.urlCanonicalize(col("url")).as("canon"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("url") =!= col("canon"), lit(1L)).otherwise(lit(0L)))
             .as("n_changed"),
           sum(when(col("canon") === col("want"), lit(1L)).otherwise(lit(0L)))
             .as("n_roundtrip"),
           sum(length(col("url")) - length(col("canon"))).as("chars_saved"))
      .withColumn("changed_permille", expr("n_changed * 1000 div n_docs"))
      .coalesce(1).orderBy("source")
  }

  /** Canonical-URL dedup accounting (round 16) — the operation
    * [[q_url_canon]]'s key exists FOR: the same page crawled behind
    * a cased host, an explicit :443, a trailing slash and utm_*
    * params must collapse to ONE kept fetch. Synthesis: a PAGE key
    * pk = doc_id mod 127 (so canonical groups genuinely span docs —
    * and grow with corpus size, exactly as recrawl groups do), host
    * and path derived from pk so every member of a group shares the
    * canonical form, and each DOC's messy variant switches casing /
    * port / slash / utm independently off its own doc_id mods — only
    * canonicalization-REMOVABLE variation, by construction (a
    * surviving param like q_url_canon's `ref` would split the
    * group). Dedup = keep the min doc_id per canonical key (the
    * q_dedup_exact convention); per source: docs, kept, dropped,
    * integer drop permille.
    *
    * Scale shape: canonicalization row-local, computed at ONE plan
    * site — the messy url projects to a named attribute first (a
    * CollapseProject barrier: the five-pass chain references it many
    * times and non-cheap expressions don't inline into multi-
    * reference consumers) and keep-min runs as a canon-partitioned
    * window over that attribute instead of a groupBy + self-join
    * (the join form re-planned the full canonicalization tree on
    * BOTH branches and paid ~4 s of driver-side analysis/codegen at
    * ANY data size — measured, execution itself was 0.2 s); one
    * canon-keyed exchange, page text never moves — exactly how URL
    * dedup runs over a 100 TB crawl; final rollup metadata-scale.
    * Oracle re-canonicalizes through the SAME five-pass CTE chain
    * the q_url_canon oracle uses (one shared definition site,
    * `Oracle.urlCanonCtes`) and re-derives keep-min in SQL.
    * All-integer (rule I), source unique (rule O). */
  def q_dedup_url(s: SparkSession, d: String): DataFrame = {
    val pk = col("doc_id") % 127L
    val did = pk * 2654435761L % 97L
    val host = concat(lit("https://"), siteDomain(did))
    val cased = when(col("doc_id") % 3 === 0, upper(host)).otherwise(host)
    val port = when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit(""))
    val path = concat(lit("/page/"), pk.cast("string"))
    val slash = when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit(""))
    val qs = when(col("doc_id") % 2 === 0,
                  lit("?utm_source=feed&utm_campaign=x")).otherwise(lit(""))
    val url = concat(cased, port, path, slash, qs)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), url.as("url"))
      .select(col("source"), col("doc_id"),
              graft.Graft.urlCanonicalize(col("url")).as("canon"))
      .withColumn("keep_id",
                  min(col("doc_id")).over(Window.partitionBy("canon")))
      .select(col("source"),
              when(col("doc_id") === col("keep_id"), 1L).otherwise(0L)
                .as("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("kept")).as("n_kept"),
           sum(lit(1L) - col("kept")).as("n_dropped"))
      .withColumn("drop_permille", expr("n_dropped * 1000 div n_docs"))
      .coalesce(1).orderBy("source")
  }

  /** Deterministic source-interleaved curriculum order (round 11) —
    * the layout stage between sampling and packing:
    * [[graft.Graft.interleaveBySource]] on documents (seed
    * 20260814), so the oracle verifies the public facade. Within
    * each source the docs take the seeded integer-bijection epoch
    * order (the q_shuffle_det scramble); globally the sources
    * round-robin by per-source position — while every source still
    * has docs remaining, each |sources|-block touches every source
    * exactly once (the facade scaladoc states the exhaustion
    * behavior precisely), and the order is bit-reproducible on any
    * engine/partitioning. Ranks run the
    * two-pass distributed scheme both per-source and globally — no
    * single-partition window at any corpus size. */
  def q_interleave(s: SparkSession, d: String): DataFrame =
    graft.Graft.interleaveBySource(Tables.documents(s, d),
        col("doc_id"), col("source"), seed = 20260814L)
      .orderBy("doc_id")

  /** Temperature-τ=½ source mixture reweighting (round 11) — the
    * flattened-distribution sampling table between corpus accounting
    * and the mixture draw: [[graft.Graft.mixtureWeights]] over the
    * per-source whitespace-token counts, so the oracle verifies the
    * public facade. All-integer (rule F): the one sqrt is
    * IEEE-correctly-rounded and floored immediately, so no float sum
    * exists to be summation-order-dependent. source unique (rule O). */
  def q_mixture_weights(s: SparkSession, d: String): DataFrame =
    graft.Graft.mixtureWeights(Tables.documents(s, d),
        col("source"), size(toks))
      .coalesce(1).orderBy("group")

  /** Domain-level curation accounting (round 15) — the URL-curation
    * face of [[q_mixture_weights]] (round-14 verdict #9): every doc
    * gets a deterministic URL domain synthesized from doc_id by the
    * q_quality_eval hash idiom (`doc_id % 1000000007 * 2654435761 %
    * 97` — mod FIRST so the product never wraps a long, the
    * q_sample_det engine-divergence stance), a 13-residue blocklist
    * marks whole domains, and each surviving domain keeps only its
    * first 3 docs by doc_id (the per-domain doc cap every crawl
    * curator runs against SEO farms). Per domain: doc/token mass,
    * blocked flag, kept docs/tokens under the cap, and the dropped
    * token permille — the table that says which domains the curation
    * pass actually costs.
    *
    * Scale shape: the hash/URL/blocklist are row-local mappers; the
    * cap needs one rank per domain — a window PARTITIONED by domain
    * (≈ uniform 97-way here; at web scale domains are millions of
    * balanced-ish partitions, and a pathological mega-domain is
    * exactly what the cap exists to truncate) — then one
    * metadata-scale rollup. domain unique (rule O), all-integer
    * (rule I), div floors (rule F). */
  def q_domain_caps(s: SparkSession, d: String): DataFrame = {
    val did = linkDid
    val domain = siteDomain(did)
    val ranked = Tables.documents(s, d)
      .select(domain.as("domain"),
              (did % 13 === 0).cast("long").as("blocked"),
              col("doc_id"), size(toks).cast("long").as("t"))
      .repartitionByRange(col("domain"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("domain").orderBy("doc_id")))
    ranked.groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
           max(col("blocked")).as("blocked"),
           sum(when(col("blocked") === 0 && col("rk") <= 3, lit(1L))
                 .otherwise(lit(0L))).as("kept_docs"),
           sum(when(col("blocked") === 0 && col("rk") <= 3, col("t"))
                 .otherwise(lit(0L))).as("kept_tokens"))
      .withColumn("drop_token_permille",
        expr("(n_tokens - kept_tokens) * 1000 div n_tokens"))
      .orderBy("domain")
  }

  /** Power-of-two length buckets + padding waste (round 11) — the
    * batching-efficiency table a training loader reads:
    * [[graft.Graft.lengthBuckets]] on the per-doc whitespace-token
    * counts, so the oracle verifies the public facade. Bucket =
    * 2^len(bin(n−1)) — pure integer, no float log2 to round the
    * wrong way on an exact power of two. bucket unique (rule O),
    * integers throughout (rule I). */
  def q_length_buckets(s: SparkSession, d: String): DataFrame =
    graft.Graft.lengthBuckets(Tables.documents(s, d), size(toks))
      .coalesce(1).orderBy("bucket")

  /** Per-source quality-gate calibration (round 11) — the table a
    * pipeline reads BEFORE turning a quality filter on:
    * [[graft.Graft.gateCalibration]] over the q_text_quality
    * quality_permille score per source, so the oracle verifies the
    * public facade. Per source the exact p25/p50/p90 of the score
    * (percentile_disc lower semantics, stated as the identical
    * `cum·100 ≥ n·p` arithmetic in both engines — rule F: no float
    * interpolation) and the docs a global `quality < 500` gate would
    * drop, with integer drop-permille — a skewed drop column is the
    * CCNet/Gopher bias signal (one threshold tuned on the dominant
    * source guts the tail). Scale shape: the corpus collapses to a
    * per-(source, score) histogram FIRST (map-side-combinable, ≤ 1001
    * rows per source at any corpus size because the score is bounded
    * permille), so the cumulative window only ever partitions
    * metadata-scale rows. source unique (rule O), integers (rule I). */
  def q_quality_gate(s: SparkSession, d: String): DataFrame =
    graft.Graft.gateCalibration(
        Tables.documents(s, d), col("source"),
        graft.Graft.qualitySignals(col("text"), col("n_chars"))
          .getField("quality_permille"),
        gate = 500L)
      .select(col("group").as("source"), col("n_rows").as("n_docs"),
              col("p25"), col("p50"), col("p90"),
              col("n_dropped"), col("drop_permille"))
      .orderBy("source")

  /** Near-dup threshold sweep (round 11) — the tuning table read
    * BEFORE anyone picks q_dedup_ngram's 0.8: pair counts per exact
    * integer Jaccard-permille band of 50, candidates enumerated ONCE
    * at the most permissive cut (0.7) via
    * [[graft.Graft.nearDupBands]], so the oracle verifies the public
    * facade. All-integer banding (rule F): jp = common·1000 div union,
    * band_lo = jp − jp mod 50 — a 17/20-Jaccard pair lands in 850, not
    * a rounded double's 800. Deliberately its OWN enumeration, not a
    * rider on the shared 0.8 pair graph: the sweep's whole point is
    * the pairs BELOW the production threshold (at 100 TB a pipeline
    * would instead build its one shared pair table at this lowest
    * candidate cut and roll every stricter decision off it; here the
    * 0.8 artifacts five queries share stay byte-stable). Reads the
    * shared doc-grams table, so the marginal cost is the wider
    * candidate join, not a re-tokenize. band_lo unique (rule O),
    * integers throughout (rule I). */
  def q_dedup_sweep(s: SparkSession, d: String): DataFrame =
    graft.Graft.nearDupBands(Tables.documents(s, d),
        col("doc_id"), col("text"), lowPermille = 700, bandPermille = 50, n = 3)
      .coalesce(1).orderBy("band_lo")

  /** Gram document-frequency histogram (round 11) — the
    * boilerplate-tail profile: per power-of-two df bucket (the
    * q_length_buckets binary-width identity — no float log2), how
    * many distinct word-3-grams and how much total occurrence mass.
    * The curve an operator reads NEXT TO [[q_boilerplate_grams]]'s
    * top-25: the top list names the worst offenders, this histogram
    * says whether they are 25 outliers or the visible tip of a heavy
    * tail (and how much of the gram universe is df-1 singletons —
    * the novelty mass [[q_ngram_novelty]] prices per doc). FIFTH
    * consumer of the shared gram-df parquet: the query is one
    * vocab-scale scan + a ≤ log₂(n_docs)-row rollup — no document is
    * touched at all. Integers throughout (rule I); df_bucket unique
    * (rule O). */
  def q_gram_df_hist(s: SparkSession, d: String): DataFrame =
    graft.Graft.gramDocFreq(Tables.documents(s, d), col("doc_id"), col("text"), n = 3)
      .select(graft.Graft.pow2Bucket(col("gdf")).as("df_bucket"), col("gdf"))
      .groupBy("df_bucket")
      .agg(count(lit(1)).as("n_grams"), sum("gdf").as("total_df"))
      .coalesce(1).orderBy("df_bucket")

  /** Quality-aware near-dup representative selection (round 11) — the
    * production refinement of [[q_dedup_drop]]'s keep-min-id rule: per
    * near-dup cluster, keep the member with the HIGHEST
    * quality_permille (tie → smallest doc_id, one stated total
    * order), because the mirror of a page is often cleaner than the
    * first-crawled copy and min-id throws that information away.
    * Reads the SHARED connected-components labels ([[q_dedup_cluster]]'s
    * temp-parquet table) and joins the row-local quality score on —
    * the argmax is ONE map-side-combinable `max(struct(quality,
    * -doc_id))` aggregate, no window over members, no per-cluster
    * collect. Output per cluster: (cluster_rep = min member id — the
    * stable cluster KEY, deliberately the same key q_dedup_cluster
    * reports, independent of what quality says — n_members, best_doc,
    * best_quality). At 100 TB the labels table is pair-scale and
    * broadcasts against the corpus-scale quality scan. */
  def q_dedup_rep_quality(s: SparkSession, d: String): DataFrame = {
    val q = Tables.documents(s, d)
      .select(col("doc_id").as("node"),
              graft.Graft.qualitySignals(col("text"), col("n_chars"))
                .getField("quality_permille").as("q"))
    ngramCcLabels(s, d)
      .join(q, "node")
      .groupBy("label")
      .agg(count(lit(1)).as("n_members"),
           max(struct(col("q"), (-col("node")).as("neg_id"))).as("best"))
      .select(col("label").as("cluster_rep"), col("n_members"),
              (-col("best.neg_id")).as("best_doc"),
              col("best.q").as("best_quality"))
      .orderBy("cluster_rep")
  }

  /** SEMANTIC dedup verdicts (round 12, SemDeDup-shaped) — the
    * embedding-space face of the removal family: documents whose
    * tf-idf vectors sit at rounded cosine ≥ 0.900, each with its
    * neighbor count and the keep-best-quality drop verdict (dropped =
    * 1 iff a neighbor dominates under the q_dedup_rep_quality
    * (quality DESC, id ASC) total order). This query IS
    * [[graft.Graft.semanticDupVerdicts]] over the SHARED
    * tf-idf table ([[TextOps.tfidfTable]] — its second in-bench
    * consumer) with the row-local q_text_quality score, so the oracle
    * verifies the public facade AND the sharing path. The exact
    * all-pairs kernel is the oracle-checkable BASELINE twin; the
    * 100 TB path is [[graft.Graft.semanticDupVerdictsIvf]] (cluster-
    * pruned, recall-pinned against this twin in SemanticDedupSpec —
    * the q_knn_join / q_sim_ivf division of labor). */
  def q_dedup_semantic(s: SparkSession, d: String): DataFrame =
    graft.Graft.semanticDupVerdicts(
        semVecQuality(s, d),
        col("doc_id"), col("vec"), col("q"), tauPermille = 900)
      .orderBy("doc_id")

  /** The (doc_id, vec, q) input table ALL THREE semantic-dedup faces
    * consume, shared per input: each face's
    * plan references the tf-idf ⋈ quality join from several subtrees
    * (the blocked self/bipartite joins evaluate their input once per
    * side plus the hot-cell count pass, and the verdict stage joins
    * quality back twice), so the inline join re-planned and re-ran
    * once per reference — 52 exchanges / 32 scans in
    * q_dedup_semantic_ivf's executed plan. One 16-byte-per-row-wider
    * parquet table makes every reference a single stats-bearing scan.
    * The 100 TB shape: join the embedding table with the quality
    * score once, write it next to the corpus, hand it to every
    * curation consumer. */
  private def semVecQuality(s: SparkSession, d: String): DataFrame =
    graft.TempTables.shared("semvec_quality",
      TextOps.tfidfTable(s, d).join(docQuality(s, d), "doc_id"))()

  /** [[q_dedup_semantic]]'s 100 TB execution shape as its own
    * benchable surface (the q_ivf_build / q_sim_ivf division of
    * labor): [[graft.Graft.semanticDupVerdictsIvf]] — k-means cells
    * over the SAME shared tf-idf table, within-cell threshold pairs,
    * the SAME dominance verdicts — so the bench line prices the
    * cluster-pruned path against its exact twin directly above it.
    * Oracle = no (JVM-seeded k-means — the q_sim_ivf stance);
    * verdict-consistency and the recall floor vs the exact twin are
    * pinned in SemanticDedupSpec. */
  def q_dedup_semantic_ivf(s: SparkSession, d: String): DataFrame = {
    val all = semVecQuality(s, d)
    // standing FULL-corpus quantizer, trained once per training
    // input and persisted ([[semIvfModel]], the "persist the model
    // table once" posture — round-15: the facade used to re-run
    // Lloyd per invocation, ~40% of its warm cost; temp_builds now
    // prices train separately from assign+pair+verdict, the
    // q_ivf_build / q_sim_ivf division of labor). Train on the
    // VECTOR TABLE ALONE, not the quality join: k-means never reads
    // q, the inner join is membership-neutral (docQuality emits one
    // row per document, tf-idf doc_ids are a subset), and a joined
    // training input made every Lloyd pass re-parse document text
    // through qualitySignals (round-16 verdict #1 — part of
    // semivf_model_full's 6.47 s SELF).
    graft.Graft.semanticDupVerdictsIvf(
        all, col("doc_id"), col("vec"), col("q"), tauPermille = 900,
        k = 16, iters = 3, centroids = Some(semIvfModel(TextOps.tfidfTable(s, d))))
      .orderBy("doc_id")
  }

  /** The standing k = 16 IVF quantizer of a (doc_id, vec) training
    * table — trained ONCE per training input and reused by every run
    * of the semantic faces: the ingest posture, where the model IS a
    * persisted table the nightly batch probes, not something
    * re-trained per batch. Keyed by the training input's plan, so a
    * hit never re-runs the Lloyd iterations; persisted via
    * [[graft.TempTables.shared]] (parquet — LITERALLY the "persist the
    * model table once" shape, and the declared plan consumes a
    * stats-bearing file scan rather than an RDD-backed checkpoint: the
    * PlanGuardSpec stats-loss rule). */
  private def semIvfModel(train: DataFrame): DataFrame =
    graft.TempTables.shared("semivf_model", train)(
      graft.Graft.ivfTrain(train, col("doc_id"), col("vec"), k = 16, iters = 3))

  /** INCREMENTAL semantic dedup (round 13 — the verdict-#4 per-ingest
    * face, completing the family the way q_dedup_incremental
    * completes the n-gram one): docs with doc_id % 10 = 0 play the
    * NEW BATCH, the rest the STANDING corpus, and the batch is
    * screened via [[graft.Graft.semanticDupVerdictsIvfAgainst]] —
    * both sides take cells from the STANDING quantizer
    * ([[semIvfModel]]: trained once on the corpus side only, never
    * re-trained for a batch), candidates meet
    * within-cell through the skew-guarded bipartite join, and each
    * batch doc gets the ingest verdict: how many same-cell corpus
    * neighbors sit at rounded cosine ≥ 0.900, and whether one of them
    * dominates under the (quality DESC, id ASC) keep-best order.
    * Vectors and quality come from the SAME shared tf-idf table and
    * row-local quality score as the other two semantic faces, so the
    * three bench lines price exact vs clustered vs incremental on
    * identical inputs. Oracle = no (JVM-seeded k-means — the
    * q_dedup_semantic_ivf stance); brute-force equivalence under a
    * shared model, the maxBucket guard invariance, and the
    * overlapping-id filter are pinned in SemanticDedupSpec. */
  def q_dedup_semantic_inc(s: SparkSession, d: String): DataFrame = {
    val all = semVecQuality(s, d)
    val batch = all.filter(col("doc_id") % 10 === 0)
    val corpus = all.filter(col("doc_id") % 10 =!= 0)
    // model trained on the corpus-side VECTORS ONLY (the
    // q_dedup_semantic_ivf stance: same row set — the quality join is
    // membership-neutral — without re-running qualitySignals per
    // Lloyd pass)
    graft.Graft.semanticDupVerdictsIvfAgainst(
        semIvfModel(TextOps.tfidfTable(s, d).filter(col("doc_id") % 10 =!= 0)),
        batch, col("doc_id"), col("vec"), col("q"),
        corpus, col("doc_id"), col("vec"), col("q"),
        tauPermille = 900)
      .orderBy("doc_id")
  }

  /** The row-local q_text_quality integer score keyed by doc_id —
    * the quality side of all three semantic-dedup faces. A shared
    * temp-parquet table: the three
    * consumers' plans each reference their vec⋈quality join from
    * several subtrees (the blocked self/bipartite joins evaluate
    * their input once per side plus the hot-bucket count pass), and
    * an inline definition re-ran qualitySignals' corpus-scale text
    * parsing on every reference; the 16-byte (doc_id, q) parquet
    * table reads back in milliseconds with real stats. The 100 TB
    * shape: score once, write next to the corpus, hand to every
    * curation consumer — the tfidf_sparse64 stance. */
  private def docQuality(s: SparkSession, d: String): DataFrame =
    graft.TempTables.shared("doc_quality",
      Tables.documents(s, d)
        .select(col("doc_id"),
                graft.Graft.qualitySignals(col("text"), col("n_chars"))
                  .getField("quality_permille").as("q"))
        // repartition, NOT coalesce (round-17 ADVICE, the TextOps/
        // GraphOps lesson): coalesce(1) narrows the whole scan +
        // qualitySignals parse stage to ONE task; repartition keeps
        // the corpus-scale parse parallel and only the 16-byte-row
        // write single-file
        .repartition(1))()

  /** Top-k vocabulary coverage / OOV curve (round 10):
    * [[graft.Graft.vocabCoverage]] at k ∈ {4, 8, 16, 24, 32} (sized
    * to this corpus's 31-word vocabulary; a tokenizer decision would
    * sweep 10³..10⁵) — per k the covered token-type count and the
    * permille of total token mass the top-k carries, integer
    * floor-div. Rank ties break on token text — the one total order
    * both engines state — and ranking runs the two-pass distributed
    * globalRankDesc, so a 10⁸-type web vocabulary never meets a
    * single-partition window. */
  def q_vocab_coverage(s: SparkSession, d: String): DataFrame =
    graft.Graft.vocabCoverage(Tables.documents(s, d), col("text"),
        ks = Seq(4, 8, 16, 24, 32))
      .coalesce(1).orderBy("k")

  /** Deterministic train/valid/test split + cross-split LEAKAGE
    * report (round 10): docs split 80/10/10 by the suite's standard
    * integer hash (the q_sample_det bijection — engine-portable, no
    * floats), then every near-dup pair of the SHARED word-3-gram pair
    * graph (fifth consumer) is rolled up by its endpoints' unordered
    * split pair. Off-diagonal rows ARE the leakage: a train doc
    * near-duplicating a test doc contaminates evaluation even though
    * the split itself was clean by construction — the check every
    * training-data pipeline must run BETWEEN splitting and training.
    * Scale shape: split assignment is a row-local hash; the rollup
    * joins the parquet-backed pair graph against the two metadata
    * projections and moves ≤ 6 rows. */
  def q_split_leakage(s: SparkSession, d: String): DataFrame = {
    val h = col("doc_id") % 1000000007L * 2654435761L % 1000L
    val splits = Tables.documents(s, d)
      .select(col("doc_id"),
              when(h < 800, "train").when(h < 900, "valid")
                .otherwise("test").as("split"))
    ngramPairGraph(s, d).select("doc_a", "doc_b")
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("split_a"),
              greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .coalesce(1).orderBy("split_a", "split_b")
  }

  /** Vocabulary GROWTH curve (round 10) — Heaps'-law points without
    * any cumulative window: four NESTED corpus slices (docs with
    * doc_id mod 4 < s, s = 1..4 — deterministic, engine-portable),
    * per slice the doc count, distinct token-TYPE count and total
    * token mass. The scaling-law companion to [[q_vocab_coverage]]:
    * coverage asks "how big a vocab for THIS corpus", growth asks
    * "what does the vocab do as the corpus grows". Distributed trick:
    * a type exists in slice s iff its MINIMUM bucket < s, so one
    * vocab-scale min-aggregate answers all four slices — no
    * cumulative distinct-count window exists anywhere. */
  def q_vocab_growth(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select((col("doc_id") % 4).as("b"), col("text"))
    val tokRows = docs.select(col("b"), explode(toks).as("tok"))
    val slices = explode(array(lit(1L), lit(2L), lit(3L), lit(4L)))
    val types = tokRows.groupBy("tok").agg(min(col("b")).as("fb"))
      .select(slices.as("s"), col("fb"))
      .groupBy("s")
      .agg(sum(when(col("fb") < col("s"), 1L).otherwise(0L)).as("vocab_types"))
    val tokTot = tokRows.groupBy("b").agg(count(lit(1)).as("n"))
      .select(slices.as("s"), col("b"), col("n"))
      .groupBy("s")
      .agg(sum(when(col("b") < col("s"), col("n")).otherwise(0L)).as("total_tokens"))
    val docTot = docs.groupBy("b").agg(count(lit(1)).as("nd"))
      .select(slices.as("s"), col("b"), col("nd"))
      .groupBy("s")
      .agg(sum(when(col("b") < col("s"), col("nd")).otherwise(0L)).as("n_docs"))
    docTot.join(types, "s").join(tokTot, "s")
      .select("s", "n_docs", "vocab_types", "total_tokens")
      .coalesce(1).orderBy("s")
  }

  /** Corpus bigram CONDITIONAL entropy per language (round 10) —
    * H(next | prev) = [Σ n₁₂·ln(n₁) − Σ n₁₂·ln(n₁₂)] / N in nats,
    * the sequence-predictability signal: natural text sits well above
    * templated/boilerplate text (whose next-token is near-determined),
    * so this flags template-generated corpora that unigram entropy
    * (q_entropy) cannot see — the unigram distribution can be normal
    * while every transition is deterministic. All log arguments are
    * INTEGER counts and the algebraic form mirrors the oracle's
    * factor-for-factor (the q_entropy ROUND-6 parity recipe).
    * Scale shape: one scan → bigram explode (row-local) → two
    * vocab-scale map-side-combinable aggregates + one vocab-scale
    * equi-join → per-lang metadata rollup. */
  def q_bigram_entropy(s: SparkSession, d: String): DataFrame = {
    val t = split(col("text"), " ")
    val bg = Tables.documents(s, d)
      .select(col("lang"), t.as("t")).filter(size(col("t")) >= 2)
      .select(col("lang"),
              explode(graft.functions.TokenNGrams.ngrams(col("t"), 2)).as("g"))
    val c12 = bg.groupBy("lang", "g").agg(count(lit(1)).as("n12"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val c1 = c12.groupBy("lang", "w1").agg(sum(col("n12")).as("n1"))
    c12.join(c1, Seq("lang", "w1"))
      .groupBy("lang")
      .agg(count(lit(1)).as("bigram_types"),
           sum(col("n12")).as("total_bigrams"),
           round((sum(col("n12") * log(col("n1"))) - sum(col("n12") * log(col("n12"))))
                   / sum(col("n12")), 6).as("cond_entropy"))
      .coalesce(1).orderBy("lang")
  }

  /** Per-document quality scoring: token count, mean token length
    * (exact from n_chars — the corpus is single-space separated),
    * stopword ratio, and a composite score. Ratios are emitted as
    * FLOOR-divided centi/permille INTEGERS (rule F's cents remedy):
    * float ROUND flapped at an exact .005 boundary between engines;
    * integer arithmetic cannot. This query IS
    * [[graft.Graft.qualitySignals]]'s struct unpacked per doc — ONE
    * definition site for the composite score, shared with
    * [[q_quality_auc]] and [[q_pr_curve]] (the round-15 verdict's
    * #6: three inlined copies of the formula could drift apart
    * silently; now an edit to the score touches exactly one
    * expression and every consumer follows). */
  def q_text_quality(s: SparkSession, d: String): DataFrame = {
    val sig = graft.Graft.qualitySignals(col("text"), col("n_chars"))
    Tables.documents(s, d)
      .select(col("doc_id"),
              sig.getField("n_tokens").as("n_tokens"),
              sig.getField("avg_len_centi").as("avg_len_centi"),
              sig.getField("stop_permille").as("stop_permille"),
              sig.getField("quality_permille").as("quality_permille"))
      .orderBy("doc_id")
  }

  /** DEFLATE compressibility quality signal (round 16) — the
    * model-free heuristic the Gopher/CCNet pipeline family runs
    * next to [[q_text_quality]]'s token ratios and [[q_repetition]]'s
    * explicit n-gram repetition share: machine-generated boilerplate,
    * template spam and repeated text compress far below natural
    * prose, and one deflate pass per document needs no vocabulary,
    * no model and no second corpus pass. Per source: doc count,
    * raw/deflated byte mass, the mass-weighted integer ratio
    * permille, the per-doc permille extremes, and n_template — docs
    * under 300‰ (compression-detected boilerplate, the gate
    * candidates).
    *
    * Oracle = no: DuckDB has no deflate, and the exact byte count is
    * a zlib-build constant, not a cross-engine one (the
    * [[graft.operators.Deflate]] determinism stance) — PipelineSpec
    * pins the stable contracts instead: bit-stable across runs,
    * repeated text strictly below varied text, the corpus-mass
    * ratio under 1000 permille (tiny docs may exceed 1000 by the
    * fixed ~11-byte wrapper overhead), and the mass identity.
    * Scale shape: ONE
    * mapPartitions with ONE native Deflater per partition (reset per
    * row, ended on task completion — the codec-amortization
    * pattern), then one map-side-combinable rollup; scan-bound at
    * 100 TB. Zero-byte docs count but carry no per-doc ratio (NULL
    * skips the min/max, the SQL aggregate convention). */
  def q_compress_ratio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.documents(s, d)
      .select(col("source"), col("text")).as[(String, String)]
      .mapPartitions { rows =>
        val defl = new java.util.zip.Deflater(6)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => defl.end()))
        rows.map { case (src, text) =>
          val raw = text.getBytes("UTF-8")
          (src, raw.length.toLong,
           graft.operators.Deflate.deflatedSize(raw, defl))
        }
      }.toDF("source", "raw", "comp")
    per
      .withColumn("doc_permille",
        when(col("raw") > 0, expr("comp * 1000 div raw")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("raw")).as("raw_bytes"),
           sum(col("comp")).as("deflated_bytes"),
           min(col("doc_permille")).as("min_doc_permille"),
           max(col("doc_permille")).as("max_doc_permille"),
           sum(when(col("doc_permille") < 300, 1L).otherwise(0L))
             .as("n_template"))
      .withColumn("ratio_permille",
        when(col("raw_bytes") > 0,
             expr("deflated_bytes * 1000 div raw_bytes")).otherwise(lit(0L)))
      .select(col("source"), col("n_docs"), col("raw_bytes"),
              col("deflated_bytes"), col("ratio_permille"),
              col("min_doc_permille"), col("max_doc_permille"),
              col("n_template"))
      .coalesce(1).orderBy("source")
  }

  /** Flesch reading-ease profile per source (round 16) — the
    * classic readability face next to [[q_text_quality]]'s token
    * ratios: FRE = 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), here in exact integer milli-units so
    * both engines agree bit-for-bit (rule I — each division is a
    * stated integer floor-div on positive operands; the final score
    * clamps at 0 so no negative ever meets a `div`). The corpus is
    * synthetic space-separated words with no punctuation, so
    * sentence boundaries are SYNTHESIZED deterministically (the
    * q_url_canon / q_encoding_audit damage precedent): a period
    * appends to every k-th token, k = 5 + doc_id mod 7, and the
    * operator runs BLIND on the punctuated text — sentences =
    * max(1, count of [.!?]), words = token count, syllables =
    * [aeiouy]+ vowel-group runs (the standard heuristic; a
    * vowel-free token counts 0 by stated contract). Per source:
    * doc count, floor-mean / min / max FRE milli, and the
    * n_easy (≥ 60.000) / n_hard (< 30.000) curation split.
    *
    * Scale shape: everything per-doc is row-local regex + integer
    * arithmetic; ONE map-side-combinable rollup — scan-bound at
    * 100 TB. The oracle re-synthesizes the punctuation and
    * re-counts with its own regex calls, blind to the Spark
    * expression tree. */
  def q_readability(s: SparkSession, d: String): DataFrame = {
    val k = col("doc_id") % 7 + 5
    val ptext = array_join(
      zip_with(toks, sequence(lit(1L), size(toks).cast("long")),
        (t, i) => concat(t, when(i % k === 0, lit(".")).otherwise(lit("")))),
      " ")
    Tables.documents(s, d)
      .select(col("source"), ptext.as("ptext"))
      .select(col("source"),
              size(split(col("ptext"), " ")).cast("long").as("w"),
              greatest(size(expr("regexp_extract_all(ptext, '[.!?]', 0)"))
                         .cast("long"), lit(1L)).as("sn"),
              size(expr("regexp_extract_all(ptext, '[aeiouy]+', 0)"))
                .cast("long").as("sy"))
      .filter(col("w") > 0)
      .withColumn("fre_milli",
        greatest(lit(0L),
          lit(206835L) - expr("(1015 * (w * 1000 div sn)) div 1000")
                       - expr("(846 * (sy * 1000 div w)) div 10")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           expr("sum(fre_milli) div count(1)").as("mean_fre_milli"),
           min(col("fre_milli")).as("min_fre_milli"),
           max(col("fre_milli")).as("max_fre_milli"),
           sum(when(col("fre_milli") >= 60000L, 1L).otherwise(0L))
             .as("n_easy"),
           sum(when(col("fre_milli") < 30000L, 1L).otherwise(0L))
             .as("n_hard"))
      .coalesce(1).orderBy("source")
  }

  /** Code-vs-prose detector (round 16) — the mixture-curation gate
    * that decides whether a crawled document enters the code or the
    * natural-language bucket (every production pretraining mix
    * routes them differently). Signal: density of code punctuation
    * `[=;(){}\[\]<>+]` per character, in integer permille — natural
    * prose sits near 0, source code near 250-300. The corpus has no
    * code, so contamination is SYNTHESIZED deterministically and
    * the detector runs BLIND: doc_id mod 9 = 0 docs are REPLACED by
    * a code snippet repeated to ≈ the original length (a code file
    * in the crawl), mod 9 = 4 docs get one trailing ` x = 1;`
    * statement (light inline contamination that must stay BELOW the
    * gate), everything else is untouched. A doc classifies as code
    * at ≥ 100‰. Per source: docs, detected code docs, their integer
    * permille share, the light-contamination count (0 < density
    * < 100‰), the corpus mass-weighted symbol density, and the max
    * per-doc density. PipelineSpec pins detection = the planted
    * mod-9 set exactly (no false positives at this gate).
    *
    * Scale shape: row-local regex count + ONE map-side-combinable
    * rollup — scan-bound at 100 TB. Oracle re-synthesizes and
    * re-counts in SQL, blind to the Spark expressions. */
  def q_code_detect(s: SparkSession, d: String): DataFrame = {
    val snip = "int i = 0; while (i < n) { t += a[i]; i = i + 1; } "
    val ctext =
      when(col("doc_id") % 9 === 0,
           expr(s"repeat('$snip', greatest(1, int(n_chars div ${snip.length})))"))
      .when(col("doc_id") % 9 === 4, concat(col("text"), lit(" x = 1;")))
      .otherwise(col("text"))
    Tables.documents(s, d)
      .select(col("source"), ctext.as("ctext"))
      .select(col("source"), length(col("ctext")).cast("long").as("nc"),
              size(expr("regexp_extract_all(ctext, '[=;(){}\\\\[\\\\]<>+]', 0)"))
                .cast("long").as("sym"))
      .filter(col("nc") > 0)
      .withColumn("density", expr("sym * 1000 div nc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("density") >= 100L, 1L).otherwise(0L)).as("n_code"),
           sum(when(col("density") > 0L && col("density") < 100L, 1L)
                 .otherwise(0L)).as("n_light"),
           sum(col("sym")).as("sym_mass"),
           sum(col("nc")).as("char_mass"),
           max(col("density")).as("max_density_permille"))
      .withColumn("code_permille", expr("n_code * 1000 div n_docs"))
      .withColumn("corpus_density_permille",
                  expr("sym_mass * 1000 div char_mass"))
      .select(col("source"), col("n_docs"), col("n_code"),
              col("code_permille"), col("n_light"),
              col("corpus_density_permille"), col("max_density_permille"))
      .coalesce(1).orderBy("source")
  }

  /** N-gram-profile language ID: build a top-10-token profile per
    * language from the corpus itself, score every document by profile
    * overlap, predict argmax (ties → lexicographic lang). This query
    * IS [[graft.Graft.languageId]] applied to the documents table
    * (one tokenize DEFINITION serves profile building AND scoring —
    * executed per consumer, see the facade scaladoc; the ≤50-row
    * profile broadcasts so scoring is map-side at any corpus size),
    * aggregated to the (true lang × predicted lang) confusion
    * matrix — so the oracle verifies the public API. */
  def q_lang_id(s: SparkSession, d: String): DataFrame =
    graft.Graft.languageId(Tables.documents(s, d),
        col("doc_id"), col("text"), col("lang"), topK = 10)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      // nulls_last matches DuckDB's ASC default — a zero-overlap NULL
      // pred_lang row (facade keeps such docs) must sort identically
      .coalesce(1).orderBy(col("lang"), col("pred_lang").asc_nulls_last)

  /** End-to-end training-data pipeline composition: exact dedup
    * (keep min doc_id per (lang, token-multiset)) → quality gate
    * (quality_permille ≥ 400, i.e. long-enough and not stopword-heavy)
    * → per-language corpus budget (kept docs, chars, subword tokens).
    * One declarative DAG: dedup's groupBy, the gate's filter and the
    * budget aggregation fuse into three stages with no materialization
    * between steps — the composition argument for building the
    * pipeline ON a query engine rather than as scripted stages. */
  def q_pipeline_e2e(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keepers = docs
      .select(col("lang"), col("doc_id"),
              array_join(array_sort(toks), " ").as("fp"))
      .groupBy("lang", "fp")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val subwords = aggregate(toks, lit(0L),
      (acc, t) => acc + floor((length(t) + 1) / 2.0).cast("long"))
    docs.join(keepers, "doc_id")
      .select(col("lang"), col("n_chars"), subwords.as("sw"),
              graft.Graft.qualitySignals(col("text"), col("n_chars"))
                .getField("quality_permille").as("q"))
      .filter(col("q") >= 400)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
           sum("n_chars").as("total_chars"),
           sum("sw").as("budget_subwords"))
      .coalesce(1).orderBy("lang")
  }

  /** Deterministic (reproducible) sampling — the data-selection op a
    * training pipeline needs instead of TABLESAMPLE's nondeterminism:
    * keep ~10% by multiplicative hashing of the stable id (Knuth
    * constant), pure integer arithmetic so the same rows are sampled
    * on every engine, every run, at any parallelism. The id is reduced
    * mod 1e9+7 BEFORE multiplying so the product stays < 2^62 — no
    * 64-bit overflow at any conceivable id range (raw doc_id *
    * 2654435761 would overflow past id ~3.47e9: DuckDB errors, ANSI-off
    * Spark wraps, and the engines would diverge exactly at scale). */
  def q_sample_det(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(pmod(pmod(col("doc_id"), lit(1000000007L)) * 2654435761L, lit(1000)) < 100)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
           min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .coalesce(1).orderBy("lang")

  /** Incremental dedup (added round 8): the odd-doc_id half of the
    * corpus arrives as a NEW batch and is probed against the standing
    * even-doc_id corpus — every cross pair with exact 3-gram Jaccard
    * ≥ 0.8. Since round 13 this query IS
    * [[graft.Graft.jaccardPrefixAgainst]] — the bipartite PREFIX
    * probe — so the oracle verifies the public API: both sides are
    * mod-2 slices of the SHARED rarity-sorted parquet (one
    * rarity order by construction, disjoint ids by the split), as the
    * prefix path of [[graft.operators.GramPairs]] requires; work is
    * linear in the new batch for a fixed index. The unfiltered-index twin
    * ([[graft.Graft.nearDupPairsNgramAgainst]]) stays the facade for
    * one-off probes with no standing sorted table; equivalence of
    * the two is pinned in PipelineSpec. */
  def q_dedup_incremental(s: SparkSession, d: String): DataFrame = {
    val sorted = graft.Graft.rarityGramArrays(Tables.documents(s, d),
      col("doc_id"), col("text"), n = 3)
    graft.Graft.jaccardPrefixAgainst(
        sorted.filter(col("doc_id") % 2 === 0),
        sorted.filter(col("doc_id") % 2 === 1),
        thresholdPermille = 800)
      .orderBy("doc_a", "doc_b")
  }

  /** Deterministic PPS sample (added round 8): documents kept with
    * probability ∝ n_chars (scale 1e6/1e9+7 ≈ n_chars/1000 — ~30%
    * average, no document reaches the cap on this corpus), per lang:
    * sample count, id range, and the Horvitz–Thompson estimate of
    * the lang's TOTAL doc count (Σ 1/p over the sample — the
    * unbiasedness check a weighted sample ships with). This query IS
    * [[graft.Graft.ppsSample]], so the oracle verifies the public
    * API: the inclusion decision is pure integer arithmetic
    * (bit-reproducible on both engines); only the HT weight is a
    * float, one identical division per row, summed then rounded per
    * rule F. */
  def q_pps_sample(s: SparkSession, d: String): DataFrame =
    graft.Graft.ppsSample(Tables.documents(s, d), col("doc_id"),
        col("n_chars"), scaleNum = 1000000L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
           min("doc_id").as("min_id"), max("doc_id").as("max_id"),
           round(sum("inv_p"), 2).as("est_total_docs"))
      .coalesce(1).orderBy("lang")

  /** Exact-k weighted sample (added round 8): exactly 100 documents
    * drawn WITHOUT replacement with inclusion probability ∝ n_chars —
    * Efraimidis–Spirakis A-ES, [[q_pps_sample]]'s fixed-size sibling
    * (Poisson sampling can't promise a sample size; an eval-split or
    * byte-budget cut usually must). The query IS
    * [[graft.Graft.weightedSampleExact]], so the oracle verifies the
    * public API: the uniform is the integer scramble both engines
    * compute bit-identically, ln enters on a well-separated key
    * (measured rank-cut gaps ≥ 1.3e-7 vs ~1e-19 libm ulps), and the
    * float key itself is NOT emitted. TakeOrderedAndProject — ≤ k
    * rows per partition to the driver merge, no shuffle. */
  def q_weighted_sample(s: SparkSession, d: String): DataFrame =
    graft.Graft.weightedSampleExact(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
        col("doc_id"), col("n_chars"), k = 100, seed = 20260813L)
      .orderBy("doc_id")

  /** Repetition-ratio quality signals (the Gopher-style "fraction of
    * duplicate n-grams" family): per document, the permille of
    * duplicate tokens, duplicate word-2-grams and duplicate
    * word-3-grams. High repetition marks boilerplate/spam for the
    * quality gate. Pure per-row higher-order functions — single scan,
    * no shuffle, embarrassingly parallel at any corpus size. Integer
    * floor-div outputs per parity rule F. */
  def q_repetition(s: SparkSession, d: String): DataFrame = {
    val t = toks
    val g2 = graft.functions.TokenNGrams.ngrams(t, 2)
    val g3 = graft.functions.TokenNGrams.ngrams(t, 3)
    def dupPermille(arr: org.apache.spark.sql.Column) =
      floor((size(arr).cast("long") - size(array_distinct(arr))) * 1000 / size(arr))
        .cast("long")
    Tables.documents(s, d)
      .filter(size(t) >= 3)
      .select(col("doc_id"),
              dupPermille(t).as("dup_tok_permille"),
              dupPermille(g2).as("dup_g2_permille"),
              dupPermille(g3).as("dup_g3_permille"))
      .orderBy("doc_id")
  }

  /** Exact substring-level (span) cross-document dedup accounting —
    * the Lee-et-al-2022 chunk-dedup stage the document-level family
    * cannot express: each document's token stream cut into disjoint
    * 16-token spans, a span "duplicated" iff its exact text occurs in
    * ≥ 2 distinct documents, per-doc duplicated-span counts and
    * coverage permille. The query IS [[graft.Graft.duplicatedSpanStats]]
    * on the documents table, so the oracle verifies the public facade.
    * Linear span explode → ONE map-side-combinable span groupBy →
    * mark-back join → per-doc rollup; never all-pairs (scale notes on
    * the facade). */
  def q_span_dedup(s: SparkSession, d: String): DataFrame =
    graft.Graft.duplicatedSpanStats(Tables.documents(s, d),
        col("doc_id"), col("text"), spanTokens = 16)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** [[q_span_dedup]] under WINNOWING span keys (round 16 — the
    * round-15 verdict's #4): the fixed 16-token/stride-4 span cut
    * misses a duplicated region under a single-token insertion
    * except at 1-in-stride re-alignments, because the cut follows
    * POSITION; winnowing (Schleimer–Wilkerson–Aiken — the
    * q_doc_fingerprint scheme promoted into the span-dedup keyspace)
    * follows CONTENT: every window of 4 consecutive stride-1
    * candidate spans keeps its rightmost-minimum-xxhash64 span, so
    * both copies of a duplicated region select the SAME spans
    * regardless of how an edit shifted their offsets, at the same
    * ~2n/(w+1) expected density as a stride-(w/2+?) fixed cut. Same
    * output contract as q_span_dedup: (doc_id, n_spans, dup_spans,
    * dup_permille — integer floor-div) per doc with ≥ 1 full span.
    *
    * Oracle = no: the SELECTION keys on xxhash64, which DuckDB
    * cannot reproduce (the q_doc_fingerprint stance). GraftSpec pins
    * (a) winnowWindow = 1 ≡ stride = 1 exactly, (b) the full stats
    * against an independent window-function implementation of the
    * same selection, and (c) the robustness motivation — a
    * single-token insertion that fixed stride-4 spans miss and
    * winnowed spans catch. Scale shape: selection is row-local
    * higher-order-function arithmetic (O(tokens·window) per doc);
    * after it, exactly q_span_dedup's plan — map-side-combinable
    * 128-bit-key groupBy, mark-back join, per-doc rollup. */
  def q_span_winnow(s: SparkSession, d: String): DataFrame =
    graft.Graft.duplicatedSpanStats(Tables.documents(s, d),
        col("doc_id"), col("text"), spanTokens = 16, winnowWindow = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** The REMOVAL stage [[q_span_dedup]]'s accounting exists for — the
    * Lee-et-al-2022 step that actually cuts duplicated text: every
    * cross-document duplicated 16-token span keeps its globally FIRST
    * occurrence (min over the integer key doc_id·10⁶ + span_idx — a
    * total order, so ownership is deterministic on any engine or
    * partitioning; requires span_idx < 10⁶, i.e. docs under 16M
    * tokens) and is dropped everywhere else. Per doc: spans before,
    * spans kept, and the surviving token budget (16·kept + the
    * trailing partial span, which no span covers and always survives).
    *
    * Scale shape: q_span_dedup's linear explode + ONE
    * map-side-combinable span groupBy (min-key + distinct-doc count),
    * dup-owner set broadcast back, per-doc rollup. The keep-first rule
    * needs no sort and no window — ownership is a single min
    * aggregate. The groupBy/join key is [[graft.Graft.spanHash]]'s
    * 128-bit hash pair, not the span text — 16 bytes per span cross
    * the wire instead of 16 tokens (the 100 TB shuffle shape; the
    * pair keeps birthday collisions negligible at ~10¹³ spans). */
  def q_span_drop(s: SparkSession, d: String): DataFrame = {
    val spanT = 16
    val t = split(col("text"), " ")
    // the packed ownership key needs span_idx < 10⁶ (docs under 16M
    // tokens); enforce LOUDLY per row rather than silently mis-owning
    // — widen the packing constant if a corpus ever trips this
    val safeIdx = when(col("span_idx") < 1000000, col("span_idx"))
      .otherwise(raise_error(concat(
        lit("q_span_drop: span_idx "), col("span_idx").cast("string"),
        lit(" >= 1e6 — ownership key would overflow; widen the packing")))
        .cast("int"))
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= spanT)
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tok"),
              posexplode(graft.Graft.tokenSpans(col("t"), spanT, spanT)))
      .withColumnRenamed("pos", "span_idx")
      .withColumnRenamed("col", "span")
      .select(Seq(col("doc_id"), col("n_tok"), col("span_idx")) ++
              graft.Graft.spanHash(col("span")): _*)
    val dup = spans.groupBy("h1", "h2")
      .agg(min(col("doc_id") * 1000000L + safeIdx).as("owner_key"),
           count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h1", "h2", "owner_key")
    val kept = when(col("owner_key").isNull ||
                    col("doc_id") * 1000000L + col("span_idx") === col("owner_key"),
                    1L).otherwise(0L)
    spans.join(dup, Seq("h1", "h2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
           sum(kept).as("kept_spans"),
           (sum(kept * 16) + max(col("n_tok")) % 16).as("tokens_kept"))
      .orderBy("doc_id")
  }

  /** Near-dup provenance matrix — the ingest diagnostic that tells you
    * WHICH SOURCES COPY FROM WHICH: every [[q_dedup_ngram]] pair
    * (J ≥ 0.8) labeled with its two documents' sources, rolled up per
    * unordered source pair (canonical least/greatest order). A heavy
    * (src_i, src_j) cell means mirrored/syndicated content between the
    * two feeds; a heavy diagonal means a feed re-publishes itself —
    * each prescribing a different pipeline remedy. Reads the SHARED
    * temp-parquet pair graph ([[ngramPairGraph]] — the third consumer
    * after q_dedup_cluster/q_dedup_drop), so the marginal cost is two
    * label equi-joins (the PLANNER picks the build side from the
    * parquet file stats — here it broadcasts the small pair graph; at
    * a scale where both sides are big it falls back to a shuffle
    * join, which is the right answer there) and a metadata-scale
    * rollup: the write-once-read-many shape a real pipeline runs. */
  def q_dedup_matrix(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    ngramPairGraph(s, d)
      .select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
              greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .coalesce(1).orderBy("src_a", "src_b")
  }

  /** Asymmetric containment near-dup: pairs where the SMALLER doc's
    * 3-gram set is ≥ 80% contained in the other's — the doc-in-doc /
    * quote / boilerplate-wrapper case [[q_dedup_ngram]]'s Jaccard
    * threshold structurally misses (a short doc inside a long one has
    * tiny Jaccard but containment ≈ 1), run NEXT TO Jaccard dedup in
    * a real pipeline. The query IS
    * [[graft.Graft.containmentPairsNgram]] on the documents table, so
    * the oracle verifies the public facade: same inverted-index
    * candidate join, deliberately NO size-ratio prune (those
    * asymmetric pairs are the positives here), all-integer output.
    * The facade reads the shared rarity-sorted table — the
    * candidate join carries rank positions and the per-collision
    * positional bound prunes before the distinct (the PPJoin trick,
    * containment algebra), with survivors verified exactly against
    * the same parquet table. */
  def q_dedup_contain(s: SparkSession, d: String): DataFrame =
    graft.Graft.containmentPairsNgram(Tables.documents(s, d),
        col("doc_id"), col("text"), thresholdPermille = 800, n = 3)
      .orderBy("doc_a", "doc_b")

  /** CCNet-style perplexity bucketing: every document scored by the
    * corpus's own unigram LM ([[q_unigram_ppl]]'s exact scores, round-3
    * — the hash-proven cross-engine-stable form), then cut into
    * per-LANGUAGE quality tertiles (bucket 1 = lowest perplexity =
    * "head", 3 = "tail") with exact SQL-NTILE semantics. This is the
    * stage CCNet/RedPajama run between scoring and sampling: keep the
    * head, downsample the tail, PER LANGUAGE so high-resource langs
    * don't set the bar for low-resource ones.
    *
    * Scale shape: the per-lang rank comes from
    * [[graft.Graft.groupedRankDesc]] — the two-pass range-bucket
    * scheme partitioned by (lang, bucket), so a hot language degrades
    * to `buckets` window partitions, never one; the NTILE arithmetic
    * is a pure integer formula over (rank, n_lang) with n_lang
    * broadcast from a metadata-scale per-lang count. */
  def q_ppl_bucket(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // temp-parquet the scored table: groupedRankDesc's two-pass scheme
    // evaluates its input ≥ 3× (quantile bounds, bucket counts, the
    // ranked pass) and the per-lang count once more — without this the
    // whole unigram-scoring subtree (explode + model join) re-runs per
    // consumer (the q_sim_sparse featurize-recompute lesson). At 100 TB
    // this is "write the scores once, rank from the table".
    val scored = graft.TempTables.shared("ppl_scored",
      graft.Graft.unigramLogProb(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), round(col("mean_nll"), 3).as("mean_nll"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"))()
    // groupedRankDesc ranks key DESC; negate for ascending-nll order
    val ranked = graft.Graft.groupedRankDesc(
        scored, col("lang"), -col("mean_nll"), col("doc_id"), buckets = 8)
      .select(col("group").as("lang"), (-col("key")).as("mean_nll"),
              col("tie").as("doc_id"), col("rank"))
    val nLang = scored.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    // SQL NTILE(3): q = n div 3 tiles, the first n%3 take q+1 rows;
    // the q=0 degenerate case never reaches the else branch (then
    // rank <= n = rem·1 always), so the `div q` is never div-by-zero
    ranked.join(broadcast(nLang), "lang")
      .withColumn("q", expr("n_lang div 3"))
      .withColumn("rem", col("n_lang") % 3)
      .withColumn("bucket",
        when(col("rank") <= (col("q") + 1) * col("rem"),
             expr("(rank + q) div (q + 1)"))
          .otherwise(col("rem") + expr("(rank - (q + 1) * rem + q - 1) div q")))
      .select(col("doc_id"), col("lang"), col("mean_nll"),
              col("bucket").cast("int").as("bucket"))
      .orderBy("doc_id")
  }

  /** Corpus-mixture sampling: each source gets a deterministic keep
    * rate (its numeric suffix mod 4, mapped to 50/100/150/200 permille
    * — the "mixture weights" a training run assigns per data source),
    * then documents are kept by the same overflow-safe multiplicative
    * id-hash as [[q_sample_det]]. Emits per-source kept counts and
    * char budgets. One scan + one tiny agg: the mixture decision is
    * pure row-local arithmetic at any scale. */
  def q_mixture_sample(s: SparkSession, d: String): DataFrame = {
    val sfx = regexp_extract(col("source"), "([0-9]+)$", 1).try_cast("long")
    val keepP = (pmod(sfx, lit(4L)) + 1) * 50
    Tables.documents(s, d)
      .select(col("source"), col("n_chars"), keepP.as("keep_permille"),
              when(graft.Graft.deterministicKeep(col("doc_id"), keepP), 1L)
                .otherwise(0L).as("kept"))
      .groupBy("source", "keep_permille")
      .agg(count(lit(1)).as("n_docs"),
           sum("kept").as("n_kept"),
           sum(when(col("kept") === 1, col("n_chars")).otherwise(0L)).as("kept_chars"))
      .coalesce(1).orderBy("source")
  }

  /** Benchmark decontamination: flag corpus documents whose word-3-gram
    * overlap with any eval-set document (here: doc_id < 10) covers at
    * least half of that eval document's distinct grams. This query IS
    * [[graft.Graft.decontaminate]] applied to the documents table
    * (corpus = doc_id ≥ 10, eval = doc_id < 10, coverage 500‰), so the
    * oracle verifies the public API: the eval side is small BY
    * DEFINITION, its gram inverted index broadcasts, and the corpus
    * streams through one map-side join — never a self-join. Emits
    * per-eval-doc counts. */
  def q_contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.Graft.decontaminate(
        docs.filter(col("doc_id") >= 10), col("doc_id"), col("text"),
        docs.filter(col("doc_id") < 10), col("doc_id"), col("text"),
        n = 3, coveragePermille = 500)
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_contaminated"), max("common").as("max_overlap"))
      .orderBy("eval_id")
  }

  /** Near-dup CLUSTERING — the pipeline stage after pairwise dedup:
    * connected components over the shared [[ngramPairGraph]] via
    * [[graft.operators.ConnectedComponents.alternatingStar]] — the
    * large-star/small-star algorithm, O(log n) rounds regardless of
    * component diameter. The driver reads only per-round convergence
    * signatures and FAILS LOUDLY if the round cap is hit — an
    * unconverged labeling can never be silently emitted. Emits
    * (cluster_rep = min doc_id, size, member-id checksum). */
  def q_dedup_cluster(s: SparkSession, d: String): DataFrame = {
    ngramCcLabels(s, d)
      .groupBy("label").agg(count(lit(1)).as("size"), sum("node").as("member_id_sum"))
      .select(col("label").as("cluster_rep"), col("size"), col("member_id_sum"))
      .orderBy("cluster_rep")
  }

  /** Concat-then-chunk sequence packing over the documents table:
    * [[graft.Graft.packChunks]] (distributed two-pass prefix sum —
    * range-bucketed, never a single-partition window) at a
    * 2048-token context budget, so the oracle verifies the public
    * API. Per document: its token count and the first/last/how-many
    * fixed-budget context windows it occupies when the corpus is laid
    * end-to-end in ascending doc_id order. */
  def q_pack_chunks(s: SparkSession, d: String): DataFrame =
    graft.Graft.packChunks(Tables.documents(s, d), col("doc_id"),
        size(toks), budget = 2048L)
      .orderBy("doc_id")

  /** Per-document sliding-window chunking with overlap: every document
    * cut into 32-token windows advancing by 24 (8 tokens of shared
    * context between consecutive chunks, last window shortened to the
    * tail) — the RAG/context-prep op, and [[q_pack_chunks]]'s
    * within-document complement. This query IS
    * [[graft.Graft.slidingChunks]] applied to the documents table
    * (one row-local Generate, ZERO shuffle at any corpus size), so the
    * oracle verifies the public API, chunk text included. */
  def q_chunk_overlap(s: SparkSession, d: String): DataFrame =
    graft.Graft.slidingChunks(Tables.documents(s, d), col("doc_id"), col("text"),
        chunkTokens = 32, overlapTokens = 8)
      .orderBy("doc_id", "chunk_idx")

  /** Unigram-LM quality scoring: per-document mean negative
    * log-likelihood under the corpus's own unigram model — the
    * CCNet-style perplexity proxy. This query IS
    * [[graft.Graft.unigramLogProb]] applied to the documents table
    * (one-row broadcast model scalar, row-local HOF scoring — zero
    * shuffle per doc), so the oracle verifies the public API. */
  def q_unigram_ppl(s: SparkSession, d: String): DataFrame =
    graft.Graft.unigramLogProb(Tables.documents(s, d), col("doc_id"), col("text"))
      .select(col("doc_id"), col("n_tokens"),
              round(col("mean_nll"), 3).as("mean_nll"))
      .orderBy("doc_id")

  /** [[q_unigram_ppl]]'s OPEN-VOCAB twin: the same scores via
    * [[graft.Graft.unigramScoreJoin]] over a
    * [[graft.Graft.unigramModelTable]] — token-table model +
    * equi-join scoring instead of the one-row map scalar, the shape
    * an unbounded vocabulary (code, URLs) needs at 100 TB. Scoring
    * the training corpus itself, both paths are numerically equal
    * (GraftSpec equivalence), so this query shares q_unigram_ppl's
    * oracle SQL verbatim and the DuckDB hash must agree with BOTH. */
  def q_unigram_open(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.Graft.unigramScoreJoin(
        graft.Graft.unigramModelTable(docs, col("text")),
        docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("n_tokens"),
              round(col("mean_nll"), 3).as("mean_nll"))
      .orderBy("doc_id")
  }

  /** Bigram-LM quality scoring: per-document mean negative
    * conditional log-likelihood −ln p(w2|w1) under the corpus's own
    * bigram MLE — the step from [[q_unigram_ppl]] toward KenLM-style
    * gating. This query IS [[graft.Graft.bigramLogProb]] applied to
    * the documents table (open-vocab equi-join scoring — the bigram
    * model does NOT fit a row scalar at corpus scale), so the oracle
    * verifies the public API. */
  def q_bigram_ppl(s: SparkSession, d: String): DataFrame =
    graft.Graft.bigramLogProb(Tables.documents(s, d), col("doc_id"), col("text"))
      .select(col("doc_id"), col("n_bigrams"),
              round(col("mean_nll"), 3).as("mean_nll"))
      .orderBy("doc_id")

  /** Deterministic epoch shuffle: the reproducible global permutation
    * a training run draws per epoch — ORDER BY
    * ([[graft.Graft.epochShuffleKey]](doc_id, seed), doc_id), here
    * cut to the first 100 docs of the epoch. The sort-limit plans as
    * TakeOrderedAndProject (per-partition top-100 + driver merge of
    * ≤100-row partials — no global sort materializes), and the key is
    * bijective on id residues, so the order is total and
    * engine-independent. */
  def q_shuffle_det(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
              graft.Graft.epochShuffleKey(col("doc_id"), 20260812L).as("shuffle_key"))
      .orderBy("shuffle_key", "doc_id")
      .limit(100)

  /** Deterministic STRATIFIED sampling: exactly min(40, |lang|) docs
    * per language — the per-domain cap / eval-split op. This query IS
    * [[graft.Graft.stratifiedSample]] applied to the documents table
    * (bounded TopK partial aggregate per stratum — no per-stratum
    * window sort, hot strata degrade map-side), so the oracle
    * verifies the public API. The n smallest seeded shuffle keys win;
    * keys are a bijection of the ids, so selection and rank order are
    * total and engine-independent. */
  def q_stratified_sample(s: SparkSession, d: String): DataFrame =
    graft.Graft.stratifiedSample(Tables.documents(s, d),
        col("lang"), col("doc_id"), n = 40, seed = 7L)
      .select(col("stratum").as("lang"), col("id").as("doc_id"), col("pos"))
      .coalesce(1).orderBy("lang", "pos")

  /** End-to-end near-dup REMOVAL — the stage [[q_dedup_cluster]]'s
    * labeling exists for: drop every clustered document except its
    * min-id representative, keep everything unclustered, and account
    * for what survives per language. Same semantics as
    * [[graft.Graft.dropNearDups]] (facade-equivalence in GraftSpec)
    * but composed over the shared cached [[ngramPairGraph]] so a
    * Verify/Bench run prices the pair graph once across the three
    * dedup queries. Non-representative members arrive from a
    * components pass whose labels are component minima; the keep set
    * is a LEFT ANTI join — docs in no pair survive by construction. */
  def q_dedup_drop(s: SparkSession, d: String): DataFrame = {
    val dropIds = ngramCcLabels(s, d)
      .filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    Tables.documents(s, d)
      .join(dropIds, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
           sum("doc_id").as("sum_kept_ids"),
           sum(col("n_chars").cast("long")).as("kept_chars"))
      .coalesce(1).orderBy("lang")
  }

  /** The corpus dedup FUNNEL — the one-row report every dedup run
    * ends with: how many documents entered, how many are exact
    * duplicates (q_dedup_exact's (lang, sorted-token) fingerprint),
    * how many near-dup clusters the n-gram pair graph forms, how many
    * docs they cover, how many get dropped under keep-min-id
    * (q_dedup_drop's rule), and how many survive. Composes the SHARED
    * cached artifacts (pair graph + CC labels) with two metadata-scale
    * aggregates, so the funnel costs three scans and three 1-row
    * crosses regardless of corpus size — the report is the cheap part
    * of the pipeline it summarizes. */
  def q_dedup_funnel(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // ONE scan computes both corpus counts (the text column is read
    // and fingerprinted once — at 100 TB the second full scan would
    // be this query's dominant cost); lang/text are non-null, so the
    // multi-column count_distinct drops no rows
    val corpus = docs.agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("lang"),
        array_join(array_sort(split(col("text"), " ")), " "))
        .as("exact_unique"))
    // coalesce: a dedup-CLEAN corpus has an EMPTY pair graph, and
    // sum() over zero rows is NULL — the funnel must report 0 dropped
    // / n_docs survivors there, not NULL
    val ccAgg = ngramCcLabels(s, d).agg(
      count_distinct(col("label")).as("ngram_clusters"),
      count(lit(1)).as("clustered_docs"),
      coalesce(sum(when(col("node") =!= col("label"), 1L).otherwise(0L)),
               lit(0L)).as("dropped"))
    corpus.crossJoin(ccAgg)
      .select(col("n_docs"), col("exact_unique"),
              (col("n_docs") - col("exact_unique")).as("exact_dup_docs"),
              col("ngram_clusters"), col("clustered_docs"), col("dropped"),
              (col("n_docs") - col("dropped")).as("survivors"))
  }

  /** Round-5 layout-pipeline composition — the sibling of
    * [[q_pipeline_e2e]] built from the round-5 operators: near-dup
    * REMOVAL (shared [[ngramCcLabels]]) → quality gate (the
    * [[q_text_quality]] integer permille) → per-language cap of 30
    * docs ([[graft.Graft.stratifiedSample]]) → concat-then-chunk
    * packing at a 1024-token budget ([[graft.Graft.packChunks]]) →
    * per-language layout budget (docs, tokens, chunk spans, last
    * chunk). ONE declarative DAG: the anti-join, gate, TopK cap,
    * distributed prefix sum and budget agg fuse under Catalyst with
    * no materialization between stages — the composition argument
    * for building the LAYOUT phase of a training-data pipeline on a
    * query engine too. */
  /** Z-order layout planning report (round 15) — the file-layout
    * decision every lakehouse OPTIMIZE pass makes, priced with the
    * engine's own data: assign each doc a Morton (Z-order) key
    * interleaving the 4-bit binary-width bucket of n_chars with the
    * 5-bit source index (pure integer div/mod arithmetic — no bit
    * builtins, so both engines state the identical expression), lay
    * the corpus out two ways into 16 "files" (equal-width Z ranges
    * vs the naive hash-by-source layout a shuffle write produces),
    * and report per (scheme, file) exactly the min/max stats a scan
    * planner keeps — n_chars span and lexicographic source span —
    * plus `hit`: whether the file survives pruning for the probe
    * `n_chars BETWEEN 200 AND 400 AND source = 'src3'`. The table
    * prices the REAL trade, not a slogan: by-source files carry the
    * full n_chars span (any length-range probe scans every
    * matching-source file whole, and a pure length probe scans ALL
    * 16), while Z-order files carry narrow n_chars spans but widen
    * the lexicographic source stats — which layout wins depends on
    * the probe mix, and this report is the data a layout decision
    * actually needs.
    *
    * Scale shape: key assignment is row-local; each layout is ONE
    * map-side-combinable (scheme, file) rollup (min/max/count
    * combine), unioned — ≤ 32 output rows at any corpus size
    * (empty Z ranges produce no row, in both engines); no sort,
    * no window (a real write would range-partition by z; the
    * PLANNING table needs only the rollup). All-integer + string
    * min/max (rule I); (scheme, file) unique (rule O). */
  def q_zorder_layout(s: SparkSession, d: String): DataFrame = {
    // k1 = binary width of n_chars, clamped to 4 bits; k2 = source
    // index 'srcN' -> N (< 32, 5 bits). The cast is GUARDED by a
    // digits-shape test stated identically in both engines (round-15
    // ADVICE: a bare CAST of a non-'srcN' source is NULL in ANSI-off
    // Spark but an ERROR in DuckDB — the exact engine-divergence
    // class the q_sample_det scaladoc condemns); a non-conforming
    // source keys to 0 rather than diverging.
    val k1 = least(length(bin(col("n_chars"))), lit(15L)).cast("long")
    val srcTail = expr("substring(source, 4)")
    val k2 = when(srcTail.rlike("^[0-9]+\\z"), srcTail.cast("long"))
      .otherwise(lit(0L))
    // Morton interleave: k1 bit i -> z bit 2i+1, k2 bit i -> z bit 2i
    val z = (0 to 3).map(i =>
        expr(s"((k1 div ${1L << i}) % 2) * ${1L << (2 * i + 1)}"))
      .reduce(_ + _) +
      (0 to 4).map(i =>
        expr(s"((k2 div ${1L << i}) % 2) * ${1L << (2 * i)}"))
      .reduce(_ + _)
    val keyed = Tables.documents(s, d)
      .select(col("source"), col("n_chars"), k1.as("k1"), k2.as("k2"))
      .withColumn("z", z)
    def layout(scheme: String, file: org.apache.spark.sql.Column) = keyed
      .groupBy(file.as("file"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("n_chars")).as("nc_min"), max(col("n_chars")).as("nc_max"),
           min(col("source")).as("src_min"), max(col("source")).as("src_max"))
      .select(lit(scheme).as("scheme"), col("file"), col("n_docs"),
              col("nc_min"), col("nc_max"), col("src_min"), col("src_max"),
              when(col("nc_max") >= 200 && col("nc_min") <= 400 &&
                   col("src_min") <= "src3" && col("src_max") >= "src3",
                   lit(1L)).otherwise(lit(0L)).as("hit"))
    // z < 2^9 here (4+5 bits) -> equal-width ranges of 32
    layout("zorder", expr("z div 32"))
      .unionAll(layout("bysource", col("k2") % 16))
      .orderBy("scheme", "file")
  }

  def q_pipeline_layout(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dropIds = ngramCcLabels(s, d)
      .filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    val gated = docs.join(dropIds, Seq("doc_id"), "left_anti")
      .filter(graft.Graft.qualitySignals(col("text"), col("n_chars"))
                .getField("quality_permille") >= 400)
      .select(col("doc_id"), col("lang"), size(toks).cast("long").as("n"))
    // shared per input: packChunks references
    // its input from FOUR subtrees (the auto-bucket count action, the
    // quantile bounds, the bucketed projection) plus the final lang
    // join below — an inline `capped` re-ran the dedup anti-join,
    // qualitySignals text parse and the TopK stratified sample on
    // every reference (~5× per invocation, the q_interleave-class
    // waste). Deterministic (seed 11); 24-byte rows; the 100 TB
    // shape is literally this: write the curated post-gate post-cap
    // doc list once, hand it to the packer and the accountant. Keyed
    // by `gated` with the sample's (n, seed) fixed here: the TopK
    // sample aggregator is a fresh object per call, so a plan that
    // contains it never compares equal to the previous call's.
    val capped = graft.TempTables.shared("layout_capped", gated)(
      gated.join(
        graft.Graft.stratifiedSample(gated, col("lang"), col("doc_id"),
            n = 30, seed = 11L)
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")
        // repartition, NOT coalesce (round-17 ADVICE): coalesce(1)
        // narrowed the post-join stage — including the left_semi
        // probe and the qualitySignals parse feeding it — to one task
        .repartition(1))
    graft.Graft.packChunks(capped, col("doc_id"), col("n"), budget = 1024L)
      .join(capped.select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tokens").as("tokens"),
           sum("n_chunks").as("chunk_spans"),
           max("end_chunk").as("last_chunk"))
      .coalesce(1).orderBy("lang")
  }

  /** Token counting, three ways per source: whitespace split, a
    * regex tokenizer (`[^a-z0-9]+` — BPE-ish normalization boundary),
    * and a subword estimate (ceil(len/2) per token — the fixed-rate
    * proxy a byte-level BPE budget check uses). */
  def q_token_count(s: SparkSession, d: String): DataFrame = {
    val retoks = split(col("text"), "[^a-z0-9]+")
    val subwords = aggregate(toks, lit(0L),
      (acc, t) => acc + floor((length(t) + 1) / 2.0).cast("long"))
    Tables.documents(s, d)
      .select(col("source"), size(toks).as("n_ws"), size(retoks).as("n_re"),
              subwords.as("n_subword"), col("text"))
      .groupBy("source")
      .agg(sum(col("n_ws").cast("long")).as("ws_tokens"),
           sum(col("n_re").cast("long")).as("re_tokens"),
           sum("n_subword").as("subword_tokens"),
           countDistinct(col("text")).as("n_distinct_docs"))
      .coalesce(1).orderBy("source")
  }

  /** EXACT corpus heavy hitters — tokens with count > n/31 (k = 30
    * Misra–Gries counters) and their exact counts, via
    * [[graft.Graft.heavyHitters]]' sketch-then-recount two-pass, so
    * the oracle verifies the public API. The sketch only FINDS
    * candidates (its containment guarantee is merge-order-proof even
    * though its estimates are not); the exact recount makes the
    * declared output deterministic and SQL-expressible. k = 30 is
    * deliberately BELOW the 31-token corpus vocabulary, so the sketch
    * genuinely evicts at every sf — the query exercises the bound,
    * not the trivial k ≥ |vocab| regime. */
  def q_heavy_hitters(s: SparkSession, d: String): DataFrame =
    graft.Graft.heavyHitters(
        Tables.documents(s, d).select(explode(split(col("text"), " ")).as("tok")),
        col("tok"), k = 30)
      .select(col("item"), col("cnt"))
      .orderBy("item")

  /** Token-weighted duplication inflation per source (round 11) —
    * the accounting q_dedup_funnel's DOC counts cannot carry: dedup
    * decisions cost documents, but training budgets are paid in
    * TOKENS, and a source whose few duplicates are its longest docs
    * inflates the corpus far more than its doc count says. Per
    * source: docs, whitespace-token total, docs the keep-min-id rule
    * would drop (non-representative members of the SHARED CC labels —
    * the seventh pair-graph consumer), the tokens those docs carry,
    * and the integer dup-token permille. Scale shape: the labels
    * table is pair-scale and broadcasts against the corpus scan; ONE
    * aggregate, no window, integers throughout (rule I). */
  def q_dup_tokens(s: SparkSession, d: String): DataFrame = {
    val dupIds = ngramCcLabels(s, d)
      .filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"), lit(1L).as("is_dup"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), size(toks).cast("long").as("n"))
      .join(dupIds, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n").as("total_tokens"),
           sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"),
           sum(when(col("is_dup").isNotNull, col("n")).otherwise(lit(0L)))
             .as("dup_tokens"))
      .withColumn("dup_token_permille",
                  expr("dup_tokens * 1000L div total_tokens"))
      .coalesce(1).orderBy("source")
  }

  /** BPE merge-candidate table (round 11) — the first step of
    * byte-pair-encoding tokenizer training, via
    * [[graft.Graft.bpePairStats]] so the oracle verifies the public
    * facade: the 20 most frequent adjacent character pairs inside
    * whitespace tokens, counted over every token OCCURRENCE (BPE
    * counts mass, not types). The key universe is alphabet², so the
    * count collapses map-side and the top-k is a TakeOrdered — the
    * only corpus-scale work is the scan. Ties break on pair text
    * (rule O: the stated total order makes the top-20 cut itself
    * deterministic across engines). */
  def q_bpe_pairs(s: SparkSession, d: String): DataFrame =
    graft.Graft.bpePairStats(Tables.documents(s, d), col("text"), topK = 20)
      .orderBy(col("n").desc, col("pair"))

  /** The learned BPE MERGE TABLE as a first-class query (round 12):
    * one row per training stage — (step, lhs, rhs, merged) — because
    * the merge list IS the tokenizer model: any other system needs
    * exactly this table to apply the same segmentation. The table is
    * O(nMerges) driver-state output (the q_ivf_build centroid-table
    * stance — a model artifact, not corpus data); the oracle re-runs
    * the full 12-stage training loop in SQL and unwraps each stage's
    * argmax, so the MODEL ITSELF verifies cross-engine, not just the
    * token counts [[q_bpe_encode]] checks. */
  def q_bpe_vocab(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeMerges(s, d)
      .zipWithIndex
      .map { case ((a, b), i) => ((i + 1).toLong, a, b, a + b) }
      .toDF("step", "lhs", "rhs", "merged")
      .orderBy("step")
  }

  /** A driver-state model cache: one trained model per (session,
    * input-file fingerprint of the corpus it was trained on). */
  private type ModelCache[M] =
    scala.collection.concurrent.TrieMap[(SparkSession, Seq[(String, Long, Long)]), M]

  /** The model `train` fits on the documents table, TRAINED ONCE per
    * (session, [[Tables.inputFiles]] of that read): a corpus rewritten
    * in place changes the fingerprint and retrains instead of serving
    * a model of the older files. Stopped-session entries are evicted
    * on access. */
  private def trainedOnDocuments[M](cache: ModelCache[M], s: SparkSession, d: String)(
      train: DataFrame => M): M = {
    cache.keys.filter(_._1.sparkContext.isStopped).foreach(cache.remove)
    val docs = Tables.documents(s, d)
    cache.getOrElseUpdate((s, Tables.inputFiles(docs)), train(docs))
  }

  /** The learned merge table, trained once per input (see
    * [[trainedOnDocuments]]) and shared by [[q_bpe_encode]] and
    * [[q_bpe_vocab]]: each would otherwise re-run the corpus
    * word-frequency pass and the driver loop for an identical Seq. */
  private val bpeMergeCache: ModelCache[Seq[(String, String)]] = new ModelCache

  private def bpeMerges(s: SparkSession, d: String): Seq[(String, String)] =
    trainedOnDocuments(bpeMergeCache, s, d)(
      graft.Graft.bpeLearnMerges(_, col("text"), nMerges = 12, vocabLimit = 4096))

  /** BPE merge APPLICATION (round 12) — closes the gap the round-11
    * verdict named: [[q_bpe_pairs]] computes merge candidates but
    * nothing applied a merge table to encode text. This query trains
    * 12 merges with [[graft.Graft.bpeLearnMerges]] (one corpus pass →
    * bounded word-frequency driver state → deterministic integer
    * argmax loop) and then ENCODES every token occurrence row-locally
    * with [[graft.Graft.bpeEncode]] — a regexp wrap plus one `replace`
    * per merge, leftmost-greedy on both engines — reporting per
    * source: word count, character-symbol baseline, BPE token count,
    * and the integer permille saved. The oracle re-trains the SAME 12
    * merges in pure SQL (chained CTE stages, one per merge: pair
    * counts from the wrapped form → `ORDER BY cnt DESC, pat LIMIT 1`
    * → `replace`) and re-encodes — learning AND application verify
    * cross-engine, the q_kn_bigram all-integer discipline. Scale
    * shape: learning is the tfidfVectors model-scalar pattern; encode
    * is zero-shuffle; ONE metadata-scale rollup. */
  def q_bpe_encode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val merges = bpeMerges(s, d)
    docs.select(col("source"), explode(toks).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("source"), length(col("w")).cast("long").as("nc"),
              graft.Graft.bpeTokenCount(
                graft.Graft.bpeEncode(col("w"), merges)).as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
           sum("nc").as("n_char_syms"),
           sum("nt").as("n_bpe_tokens"))
      .withColumn("saved_permille",
                  expr("(n_char_syms - n_bpe_tokens) * 1000L div n_char_syms"))
      .coalesce(1).orderBy("source")
  }

  /** Tokenizer fertility per language (round 16) — the multilingual
    * tokenizer-EQUITY metric every production tokenizer report
    * carries next to [[q_bpe_encode]]'s per-source compression:
    * fertility = BPE tokens per word, and a language whose fertility
    * runs high pays proportionally more compute and context window
    * per word of content (the standard argument for vocabulary
    * rebalancing). Same shared 12-merge table (trained once per
    * (session, sfDir) — the [[bpeMerges]] cache), same row-local
    * leftmost-greedy encode; the rollup keys on LANG instead of
    * source and reports word count, BPE token count, and integer
    * fertility permille (1000 = one token per word; rule I).
    *
    * Scale shape: learning is the bounded model-scalar pattern;
    * encode is zero-shuffle row-local; ONE map-side-combinable
    * ≤ |langs|-row rollup. The oracle re-trains the same 12 merges
    * in chained SQL CTEs and re-encodes, blind to the Scala
    * learner. */
  def q_tokenizer_fertility(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMerges(s, d)
    Tables.documents(s, d)
      .select(col("lang"), explode(toks).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("lang"),
              graft.Graft.bpeTokenCount(
                graft.Graft.bpeEncode(col("w"), merges)).as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
           sum("nt").as("n_bpe_tokens"))
      .withColumn("fertility_permille",
                  expr("n_bpe_tokens * 1000 div n_words"))
      .coalesce(1).orderBy("lang")
  }

  /** Unicode-normalization accounting per source (round 11) — the
    * canonicalization stage run BEFORE any fingerprint/dedup pass,
    * via [[graft.Graft.normalizationStats]] and the native codegen'd
    * [[graft.functions.NfcNormalize]] expression (Spark has no
    * normalization builtin; DuckDB's `nfc_normalize` is the oracle's
    * independent implementation, so the hash match pins JDK-vs-
    * utf8proc NFC agreement on these sequences). The corpus itself is
    * NFC-clean ASCII, so the query SYNTHESIZES deterministic
    * decomposed sequences first (the q_pii_scan precedent): docs with
    * doc_id ≡ 0 mod 5 get an appended `e`+COMBINING-ACUTE word, mod 7
    * an `u`+COMBINING-DIAERESIS word — NFC composes each pair to one
    * code point, and the untouched docs assert the zero rows. */
  def q_unicode_norm(s: SparkSession, d: String): DataFrame = {
    val injected = concat(
      col("text"),
      // DECOMPOSED sequences, spelled as \uXXXX escapes so no
      // editor/encoding pass can silently compose them
      when(col("doc_id") % 5 === 0, lit(" cafe\u0301")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit(" u\u0308ber")).otherwise(lit("")))
    graft.Graft.normalizationStats(Tables.documents(s, d),
        col("source"), injected)
      .select(col("group").as("source"), col("n_docs"),
              col("n_denorm"), col("chars_saved"))
      .coalesce(1).orderBy("source")
  }

  /** Encoding-damage audit (round 15) — the raw-zone stage BEFORE
    * even [[q_unicode_norm]]: a crawl arrives with mojibake (UTF-8
    * bytes decoded as Latin-1 — the `Ã©`-for-`é` class, detectable
    * as a C2/C3 lead byte followed by a continuation-range char),
    * U+FFFD replacement characters (upstream decode already lost
    * data), and stray C0 control characters. The corpus is clean
    * ASCII, so the query SYNTHESIZES each damage class
    * deterministically (the q_pii_scan precedent: doc_id ≡ 0 mod
    * 4/6/9 inject a mojibake pair, a U+FFFD, a BEL) and audits per
    * source: damaged docs, hits per class, the characters a repair
    * pass removes (mojibake pair → one `?`, U+FFFD and controls →
    * dropped — three stated-order passes, rule F), damaged permille.
    * Row-local end to end + ONE metadata-scale rollup; patterns are
    * plain character classes (RE2 ≡ Java regex); all-integer
    * (rule I); source unique (rule O). */
  def q_encoding_audit(s: SparkSession, d: String): DataFrame = {
    // all non-ASCII and control chars spelled as unicode escapes
    // (the q_unicode_norm stance: no editor/encoding pass can
    // silently mangle them)
    val moji = "[\u00C2\u00C3][\u0080-\u00BF]"
    val ctrl = "[\u0001-\u0008\u000B\u000C\u000E-\u001F]"
    val injected = concat(
      col("text"),
      when(col("doc_id") % 4 === 0, lit(" caf\u00C3\u00A9")).otherwise(lit("")),
      when(col("doc_id") % 6 === 0, lit(" bad\uFFFD")).otherwise(lit("")),
      when(col("doc_id") % 9 === 0, lit(" x\u0007y")).otherwise(lit("")))
    val nMoji = regexp_count(injected, lit(moji)).cast("long")
    val nRepl = regexp_count(injected, lit("\uFFFD")).cast("long")
    val nCtrl = regexp_count(injected, lit(ctrl)).cast("long")
    val repaired = regexp_replace(
      regexp_replace(regexp_replace(injected, moji, "?"), "\uFFFD", ""),
      ctrl, "")
    Tables.documents(s, d)
      .select(col("source"), nMoji.as("m"), nRepl.as("r"), nCtrl.as("c"),
              (length(injected) - length(repaired)).cast("long").as("removed"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("m") + col("r") + col("c") > 0, lit(1L))
                 .otherwise(lit(0L))).as("n_damaged"),
           sum(col("m")).as("mojibake_hits"),
           sum(col("r")).as("replacement_hits"),
           sum(col("c")).as("control_hits"),
           sum(col("removed")).as("chars_removed"))
      .withColumn("damaged_permille", expr("n_damaged * 1000 div n_docs"))
      .coalesce(1).orderBy("source")
  }

  /** Shard-local dedup loss curve (round 11) — at 100 TB, running
    * near-dup detection globally is the expensive option, and the
    * standard cost cut is SHARD-LOCAL dedup (hash docs into K shards,
    * dedup within each): this query prices exactly what that cut
    * loses, per shard count K ∈ {2, 4, 8, 16} — the near-dup pairs
    * whose endpoints hash to DIFFERENT shards (invisible to any
    * shard-local pass) as a count and integer permille of all pairs.
    * Sharding uses the q_sample_det multiplicative hash mod 16; every
    * K divides 16, so the K-shard id is the 16-shard id mod K and the
    * curve is monotone by construction (co-sharded at 2K ⇒ co-sharded
    * at K). The EIGHTH consumer of the shared pair-graph artifacts.
    *
    * Scale shape: pair-scale work only — the parquet pair graph ×4
    * (one row-local explode of the K list), one metadata-scale
    * rollup; no document is touched at any corpus size. Integers
    * throughout (rule I). */
  def q_shard_dedup(s: SparkSession, d: String): DataFrame = {
    def bucket(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      id % 1000000007L * 2654435761L % 16L
    ngramPairGraph(s, d)
      .select(bucket(col("doc_a")).as("ba"), bucket(col("doc_b")).as("bb"))
      .select(col("ba"), col("bb"),
              explode(array(lit(2L), lit(4L), lit(8L), lit(16L))).as("n_shards"))
      .groupBy("n_shards")
      .agg(count(lit(1)).as("n_pairs"),
           sum(when(col("ba") % col("n_shards") === col("bb") % col("n_shards"),
                    lit(1L)).otherwise(lit(0L))).as("n_local"))
      .select(col("n_shards"), col("n_pairs"),
              (col("n_pairs") - col("n_local")).as("n_cross"),
              expr("(n_pairs - n_local) * 1000L div n_pairs").as("cross_permille"))
      .coalesce(1).orderBy("n_shards")
  }

  /** SPAN-level shard-dedup loss curve (round 14 — the round-13
    * verdict's #6): [[q_shard_dedup]] prices what shard-local dedup
    * loses at the DOCUMENT-pair level; this is the same curve for the
    * substring family. A globally-duplicated 16-token span (exact
    * text in ≥ 2 distinct docs — [[q_span_dedup]]'s universe) is
    * VISIBLE to a K-shard-local span pass only if some single shard
    * holds ≥ 2 of its distinct documents; a span whose occurrences
    * scatter one-per-shard is invisible to every shard's local view
    * and survives dedup entirely. Per K ∈ {2, 4, 8, 16}: the
    * duplicated-span-group count, how many groups are LOST
    * shard-locally, and the integer loss permille. Monotone in K by
    * construction (the K-shard id is the 16-shard id mod K, so
    * co-sharded at 2K ⇒ co-sharded at K ⇒ lost(K) ≤ lost(2K)).
    *
    * Scale shape: the span family's linear disjoint-span explode
    * (span TEXT never shuffles — [[graft.Graft.spanHash]] 128-bit
    * keys do), ONE map-side-combinable (span, shard) distinct-doc
    * aggregate, then group-scale rollups only: per-shard counts ADD
    * across shard classes (shards partition docs), so the K curve is
    * arithmetic over the 16-shard table — ≤ 16 rows per duplicated
    * group, never a pair expansion. Integers throughout (rule I);
    * the oracle recomputes from raw text, blind to the hash keys. */
  def q_span_shard_loss(s: SparkSession, d: String): DataFrame = {
    val spanT = 16
    val t = split(col("text"), " ")
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= spanT)
      .select(col("doc_id"),
              explode(graft.Graft.tokenSpans(col("t"), spanT, spanT)).as("span"))
      .select(Seq(col("doc_id"),
                  (col("doc_id") % 1000000007L * 2654435761L % 16L).as("b16")) ++
              graft.Graft.spanHash(col("span")): _*)
    // distinct docs per (span, 16-shard); a span repeated WITHIN one
    // doc is one occurrence for dedup purposes (the q_span_dedup rule)
    val perShard = spans.groupBy("h1", "h2", "b16")
      .agg(count_distinct(col("doc_id")).as("c"))
    // globally duplicated groups: per-shard distinct counts add to the
    // global distinct count because the shards partition the docs
    val dup = perShard.groupBy("h1", "h2")
      .agg(sum(col("c")).as("nd")).filter(col("nd") >= 2)
      .select("h1", "h2")
    perShard.join(dup, Seq("h1", "h2"))
      .select(col("h1"), col("h2"), col("b16"), col("c"),
              explode(array(lit(2L), lit(4L), lit(8L), lit(16L))).as("n_shards"))
      .groupBy(col("n_shards"), col("h1"), col("h2"),
               (col("b16") % col("n_shards")).as("bk"))
      .agg(sum(col("c")).as("ck"))
      .groupBy("n_shards", "h1", "h2")
      .agg(max(col("ck")).as("max_local"))
      .groupBy("n_shards")
      .agg(count(lit(1)).as("n_dup_spans"),
           sum(when(col("max_local") < 2, lit(1L)).otherwise(lit(0L))).as("n_lost"))
      .select(col("n_shards"), col("n_dup_spans"), col("n_lost"),
              when(col("n_dup_spans") > 0,
                   expr("n_lost * 1000L div n_dup_spans"))
                .otherwise(lit(0L)).as("lost_permille"))
      .coalesce(1).orderBy("n_shards")
  }

  /** Conjunctive inverted-index search (round 11) — classic boolean
    * retrieval, the lookup a corpus-exploration UI runs constantly:
    * every document containing ALL of a 3-term query ("hash" AND
    * "join" AND "merge"), with the total term-occurrence count as a
    * tf ranking signal (the boolean complement of q_bm25's scored
    * ranking). The shape matters at 100 TB: token explode → IN-list
    * filter (pushable to a real inverted index / dictionary-encoded
    * scan) → per-doc (tf, distinct-term) aggregate → distinct = |q|
    * gate — never a LIKE '%term%' scan, never a regex over text.
    * Matches (tiny) then broadcast-join back to the corpus for
    * metadata. Integers throughout (rule I). */
  def q_bool_search(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("hash", "join", "merge")
    // term-presence as a BIT MASK folded by bit_or — one plain
    // aggregate instead of count-distinct's expand + second exchange
    // (the filter guarantees t is one of the three)
    val mask = when(col("t") === terms(0), 1)
      .when(col("t") === terms(1), 2).otherwise(4)
    val m = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("tf_total"), bit_or(mask).as("mask"))
      .filter(col("mask") === 7)
      .select(col("doc_id"), col("tf_total"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .join(m, "doc_id")
      .orderBy("doc_id")
  }

  /** Exact PHRASE search over a positional inverted index (round
    * 16) — the retrieval face [[q_bool_search]]'s bag-of-words
    * bitmask cannot express: "these words, ADJACENT, in this order".
    * The phrase is self-derived for determinism — the corpus's most
    * frequent word bigram under the stated total order (count DESC,
    * bigram ASC), computed once per input into a shared
    * 1-row temp table — and matching runs the classic
    * positional-index join: postings (doc, pos, term) restrict to
    * the two phrase words by an equi-join against the broadcast
    * phrase table (never a scan-wide filter literal — the phrase is
    * data-dependent), then w1@pos joins w2@pos+1 on the composite
    * (doc_id, position) key. Per source: docs matching, total
    * occurrences, with the phrase words as key columns (rule O:
    * (source, w1, w2) unique; zero-hit sources emit no row in both
    * engines).
    *
    * Scale shape: the postings explode is linear and row-local; the
    * term restriction broadcasts a 1-row table so only the two
    * words' postings survive to the exchange; the adjacency join
    * keys on (doc_id, pos) — composite, collision-free, never a
    * term-keyed hot join; rollup metadata-scale. At 100 TB the
    * postings table is the standing index artifact and this query
    * is its probe path. The oracle re-counts adjacent pairs
    * row-locally in SQL (list_filter over positions), blind to the
    * index shape. */
  def q_phrase_search(s: SparkSession, d: String): DataFrame =
    positionalProbe(s, d, maxGap = 1)

  /** The shared 1-row (w1, w2) probe phrase — the corpus's most
    * frequent word bigram under the stated total order (count DESC,
    * bigram ASC), computed once per input and reused by
    * both positional-index probes ([[q_phrase_search]],
    * [[q_proximity_search]]). */
  private def phraseTop(s: SparkSession, d: String): DataFrame =
    graft.TempTables.shared("phrase_top",
      Tables.documents(s, d)
        .select(explode(graft.functions.TokenNGrams.ngrams(toks, 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram").asc).limit(1)
        .select(substring_index(col("gram"), " ", 1).as("w1"),
                substring_index(col("gram"), " ", -1).as("w2")))()

  /** The shared positional-index probe behind q_phrase_search
    * (maxGap = 1, strict adjacency) and q_proximity_search
    * (maxGap = 4): postings restrict to the two phrase words via a
    * broadcast equi-join, then w1@p1 joins w2@p2 on the composite
    * (doc_id) key with the ordered gap residual 1 ≤ p2 − p1 ≤ maxGap. */
  private def positionalProbe(s: SparkSession, d: String,
                              maxGap: Int): DataFrame = {
    val phrase = phraseTop(s, d)
    val postings = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
              posexplode(toks).as(Seq("pos", "term")))
    val p1 = postings.join(
      broadcast(phrase.select(col("w1").as("term"), col("w1"), col("w2"))),
      "term")
    val p2 = postings.join(
      broadcast(phrase.select(col("w2").as("term"))), "term")
      .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"))
    val gap = col("pos2") - p1("pos")
    p1.join(p2, p1("doc_id") === col("doc_id2") &&
                gap >= 1 && gap <= maxGap)
      .groupBy("source", "w1", "w2")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_hits"))
      .coalesce(1).orderBy("source")
  }

  /** Ordered PROXIMITY search over the positional inverted index
    * (round 16) — the query-operator face between
    * [[q_bool_search]]'s whole-doc conjunction and
    * [[q_phrase_search]]'s strict adjacency: w1 followed by w2
    * within a 4-token window ("near-phrase" retrieval, the NEAR/k
    * operator every production search engine exposes). Same
    * self-derived probe phrase, same broadcast term restriction,
    * same composite-key join — only the positional residual widens
    * from p2 = p1 + 1 to 1 ≤ p2 − p1 ≤ 4, so every phrase hit is by
    * construction also a proximity hit (subset pin in PipelineSpec).
    * Per source: docs matching, total ordered (p1, p2) pairs (rule
    * O: (source, w1, w2) unique; zero-hit sources emit no row in
    * both engines).
    *
    * Scale shape: identical to q_phrase_search — linear row-local
    * postings explode, 1-row broadcast restriction before the
    * exchange, (doc_id)-keyed join with a bounded positional
    * residual (≤ maxGap positions per left row can match), rollup
    * metadata-scale. The oracle re-counts window pairs row-locally
    * (nested list_filter over positions), blind to the index. */
  def q_proximity_search(s: SparkSession, d: String): DataFrame =
    positionalProbe(s, d, maxGap = 4)

  /** Incremental gram-df merge / batch-novelty report (round 11) —
    * the corpus-STATS sibling of q_dedup_incremental's pair-level
    * ingest probe: when a new crawl batch lands, the shared gram-df
    * table must be UPDATED, and because df is a sum it merges by one
    * full-outer join + add — no recompute over the existing corpus
    * (the mergeable-statistics posture that makes per-crawl ingest
    * affordable at 100 TB; in production the base side is the
    * already-materialized table, re-derived here from the mod-10
    * split so the oracle can verify from first principles). The
    * accounting row IS the batch-novelty report a crawl dashboard
    * shows: how many gram types the batch adds (novel content) vs
    * overlaps (duplicative), their occurrence masses, and the novel
    * share in integer permille. */
  def q_gramdf_merge(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // both df sides aggregate slices of the ONE shared doc-grams
    // parquet, filtered by the split predicate — zero corpus-scale
    // tokenize/explode passes in this query (the inline build paid
    // two)
    val grams = graft.Graft.docGramArrays(docs, col("doc_id"), col("text"), n = 3)
    val dfBase = graft.Graft.gramCounts(grams.filter(col("doc_id") % 10 =!= 0))
      .select(col("gram"), col("gdf").as("gdf_base"))
    val dfBatch = graft.Graft.gramCounts(grams.filter(col("doc_id") % 10 === 0))
      .select(col("gram"), col("gdf").as("gdf_batch"))
    dfBase.join(dfBatch, Seq("gram"), "full_outer")
      .agg(sum(when(col("gdf_base").isNotNull, 1L).otherwise(0L)).as("n_base_types"),
           sum(when(col("gdf_batch").isNotNull, 1L).otherwise(0L)).as("n_batch_types"),
           sum(when(col("gdf_base").isNull, 1L).otherwise(0L)).as("n_new_types"),
           sum(when(col("gdf_base").isNotNull && col("gdf_batch").isNotNull,
                    1L).otherwise(0L)).as("n_overlap_types"),
           sum(coalesce(col("gdf_base"), lit(0L)) +
               coalesce(col("gdf_batch"), lit(0L))).as("merged_mass"),
           sum(when(col("gdf_base").isNull, col("gdf_batch")).otherwise(lit(0L)))
             .as("new_mass"))
      // empty-batch guard (round-12 ADVICE): a batch with zero gram
      // types (no doc_id%10==0 doc carries ≥3 tokens) would divide by
      // zero — NULL in Spark (ANSI off), engine-specific in the
      // oracle's `//`. n_new_types is necessarily 0 then, so 0 IS the
      // mathematically consistent novel share; emit it explicitly on
      // BOTH engines to keep the all-integer contract on degenerate
      // inputs (the mixtureWeights-guard hazard, resolved by value
      // instead of raise_error because the empty batch is a LEGAL
      // ingest state, not a caller error)
      .withColumn("novel_permille",
                  expr("CASE WHEN n_batch_types = 0 THEN 0L " +
                       "ELSE n_new_types * 1000L div n_batch_types END"))
  }

  /** Crawl snapshot diff (round 16 — the round-15 verdict's top
    * missing-frontier item): the doc-LEVEL recrawl dashboard next to
    * [[q_gramdf_merge]]'s gram-stats diff. Two deterministic
    * snapshots derive from documents (the q_dedup_incremental
    * deterministic-split precedent): the OLD snapshot lacks the
    * doc_id % 11 = 0 docs (they arrive in the recrawl → ADDED), the
    * NEW snapshot lacks the doc_id % 13 = 0 docs (dropped by the
    * recrawl → REMOVED) and carries an edited text for
    * doc_id % 7 = 0 (' rev2 edit' appended → CHANGED, +2 tokens).
    * This query IS [[graft.Graft.snapshotDiff]] over the two slices,
    * so the oracle verifies the public facade: per source the
    * added/removed/changed/unchanged doc counts, the token-mass
    * deltas, and the integer churn permille vs the old snapshot.
    *
    * The facade's CHANGED verdict keys on an xxhash64 content
    * signature (text never reaches the join — the 100 TB shape);
    * the oracle compares the synthesized texts DIRECTLY, equivalent
    * up to a 2⁻⁶⁴ hash collision (the ConnectedComponents
    * convergence stance — the signature value itself never appears
    * in the output, so parity is exact whenever no collision
    * occurs). Scale shape: two row-local projections, ONE full-outer
    * id join carrying (id, group, sig, weight) only, one
    * metadata-scale rollup. All-integer (rule I); source unique
    * (rule O). */
  def q_snapshot_diff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val oldSnap = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("source"), col("text"))
    val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), col("source"),
              concat(col("text"),
                when(col("doc_id") % 7 === 0, lit(" rev2 edit"))
                  .otherwise(lit(""))).as("text"))
    graft.Graft.snapshotDiff(
        oldSnap, col("doc_id"), col("source"),
        xxhash64(col("text")), size(split(col("text"), " ")),
        newSnap, col("doc_id"), col("source"),
        xxhash64(col("text")), size(split(col("text"), " ")))
      .select(col("group").as("source"), col("n_old"), col("n_new"),
              col("n_added"), col("n_removed"), col("n_changed"),
              col("n_unchanged"), col("tokens_added"),
              col("tokens_removed"), col("tokens_changed_delta"),
              col("net_token_delta"), col("churn_permille"))
      .coalesce(1).orderBy("source")
  }

  /** Snapshot edit-MAGNITUDE report (round 16) — the question
    * [[q_snapshot_diff]]'s binary CHANGED verdict cannot answer: of
    * the docs a recrawl touched, how MUCH of each actually changed?
    * (a timestamp-in-footer tweak and a full rewrite both flip the
    * content signature, but only one should re-enter the dedup/
    * quality pipeline). For every CHANGED doc of the same
    * deterministic snapshot pair (present in both sides:
    * doc_id mod 7 = 0 ∧ mod 11 ≠ 0 ∧ mod 13 ≠ 0; the mod-7 edit
    * appends ' rev2 edit'), the old/new texts compare by distinct
    * word-3-gram Jaccard permille — 1000 = cosmetic, 0 = disjoint;
    * two gram-free texts (< 3 tokens each) count identical by stated
    * contract. Per source: changed-doc count, the floor-mean /
    * min / max Jaccard permille, and the n_light (≥ 900, cosmetic)
    * vs n_heavy (< 500, rewrite-grade) split a re-ingest policy
    * keys on.
    *
    * Scale shape: both versions of a changed doc live on the SAME
    * row here (the edit is synthesized), so the gram sets, the
    * intersect/union and the per-doc permille are all row-local
    * higher-order-function arithmetic — and in a real deployment
    * where versions arrive from the snapshot join, the same
    * expressions run post-join with text pairs co-located by doc id;
    * ONE metadata-scale rollup either way. All-integer (rule I);
    * source unique (rule O); the oracle re-derives the gram sets by
    * explode + distinct in SQL, blind to the array-function path. */
  def q_snapshot_churn(s: SparkSession, d: String): DataFrame = {
    val oldT = col("text")
    val newT = concat(col("text"), lit(" rev2 edit"))
    val ga = array_distinct(
      graft.functions.TokenNGrams.ngrams(split(oldT, " "), 3))
    val gb = array_distinct(
      graft.functions.TokenNGrams.ngrams(split(newT, " "), 3))
    val un = size(array_union(ga, gb))
    val jacc = when(col("un") === 0, lit(1000L))
      .otherwise(expr("inter * 1000 div un"))
    Tables.documents(s, d)
      .filter(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0 &&
              col("doc_id") % 13 =!= 0)
      .select(col("source"),
              size(array_intersect(ga, gb)).cast("long").as("inter"),
              un.cast("long").as("un"))
      .select(col("source"), jacc.as("jacc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_changed"),
           expr("sum(jacc) div count(1)").as("mean_jacc_permille"),
           min(col("jacc")).as("min_jacc_permille"),
           max(col("jacc")).as("max_jacc_permille"),
           sum(when(col("jacc") >= 900, 1L).otherwise(0L)).as("n_light"),
           sum(when(col("jacc") < 500, 1L).otherwise(0L)).as("n_heavy"))
      .coalesce(1).orderBy("source")
  }

  /** Duplication rate by quality band (round 11) — the cross-signal
    * a curation design needs before ordering its stages: if low-
    * quality docs are ALSO the duplicated ones (boilerplate, scraped
    * mirrors, template spam), a quality gate run first shrinks the
    * expensive near-dup pass; if duplication is quality-flat, the
    * two signals are independent and stage order is a pure cost
    * choice. Per quality-permille band of 100: doc count, docs the
    * keep-min-id rule would drop (non-representative members of the
    * SHARED CC labels — the NINTH pair-graph consumer), and the
    * integer dup permille. Scale shape: the labels table is
    * pair-scale and broadcasts against the row-local quality scan;
    * ONE ≤ 11-row rollup, integers throughout (rule I). */
  def q_dup_quality(s: SparkSession, d: String): DataFrame = {
    val dropped = ngramCcLabels(s, d)
      .filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"), lit(1L).as("is_dup"))
    Tables.documents(s, d)
      .select(col("doc_id"),
              graft.Graft.qualitySignals(col("text"), col("n_chars"))
                .getField("quality_permille").as("q"))
      .select(col("doc_id"), expr("q div 100").as("q_band"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy("q_band")
      .agg(count(lit(1)).as("n_docs"),
           sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
      .withColumn("dup_permille", expr("n_dup * 1000L div n_docs"))
      .coalesce(1).orderBy("q_band")
  }

  /** Kneser–Ney bigram model head (round 11) — the classic n-gram LM
    * smoothing the perplexity family (q_unigram_ppl / q_bigram_ppl)
    * was missing, via [[graft.Graft.knBigramScores]] so the oracle
    * verifies the public facade: the 20 most frequent bigrams with
    * their interpolated-KN probability in exact integer micro units
    * (d = 3/4 → all-integer fixed point, rule F/I; the continuation-
    * count backoff is what distinguishes KN from the raw MLE
    * q_bigram_ppl scores). Ties break on bigram text (rule O). Scale
    * shape: the facade's vocab-scale aggregates + a TakeOrdered —
    * the only corpus-scale work is the bigram explode. */
  def q_kn_bigram(s: SparkSession, d: String): DataFrame =
    graft.Graft.knBigramScores(Tables.documents(s, d), col("text"))
      .orderBy(col("c12").desc, col("bigram"))
      .limit(20)

  /** Pairwise source vocabulary overlap (round 11) — the corpus-
    * similarity signal a mixture designer reads next to
    * q_mixture_weights' size shares: per unordered source pair the
    * token-TYPE counts, shared-type count and exact integer Jaccard
    * permille. Two sources with near-identical vocabularies are
    * near-redundant in a mixture; one with a tiny overlap brings new
    * vocabulary (and new OOV risk — q_vocab_coverage prices that).
    * Pairs sharing ZERO types produce no row (the inner token join
    * cannot see them — stated contract, identical in the oracle).
    *
    * Scale shape: one scan → distinct (source, token) — ONE shuffle
    * on the composite key; the self-join fans out per token only to
    * the sources that CONTAIN it (≤ n_sources² rows per token, a
    * constant; never tokens × corpus); per-source type counts
    * broadcast back over the ≤ C(n_sources,2)-row pair table.
    * Integers throughout (rule I). */
  def q_vocab_overlap(s: SparkSession, d: String): DataFrame = {
    val st = Tables.documents(s, d)
      .select(col("source"), explode(toks).as("token"))
      .distinct()
    val counts = st.groupBy("source").agg(count(lit(1)).as("n_types"))
    val pairs = st.as("a")
      .join(st.as("b"),
            col("a.token") === col("b.token") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(counts.select(col("source").as("src_a"), col("n_types").as("types_a")), "src_a")
      .join(counts.select(col("source").as("src_b"), col("n_types").as("types_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("types_a"), col("types_b"),
              col("common"),
              expr("common * 1000 div (types_a + types_b - common)")
                .as("jaccard_permille"))
      .coalesce(1).orderBy("src_a", "src_b")
  }

  /** SEMANTIC split leakage (round 14) — [[q_split_leakage]]'s face
    * for the duplicates n-gram Jaccard cannot see: a paraphrased or
    * lightly-reworded eval document shares few exact 3-grams with its
    * train twin but sits at high tf-idf cosine, so an eval-hygiene
    * report needs BOTH faces side by side (same deterministic split
    * hash, same output shape, one extra column: the mean rounded
    * cosine of each class's pairs — how STRONG the leakage is, not
    * just how much). Pairs from the exact
    * [[graft.Graft.cosineThresholdPairs]] kernel at τ = 0.9 over the
    * SAME shared tf-idf table as the semantic-dedup family; the split
    * join and rollup are pair-scale. Integer mean via sum div count
    * (rule F/I); the oracle recomputes tf-idf + pairs in SQL blind to
    * the chunked broadcast kernel (the q_dedup_semantic recipe). */
  def q_split_leakage_semantic(s: SparkSession, d: String): DataFrame = {
    val h = col("doc_id") % 1000000007L * 2654435761L % 1000L
    val splits = Tables.documents(s, d)
      .select(col("doc_id"),
              when(h < 800, "train").when(h < 900, "valid")
                .otherwise("test").as("split"))
    graft.Graft.cosineThresholdPairs(TextOps.tfidfTable(s, d),
        col("doc_id"), col("vec"), tauPermille = 900)
      .join(splits.select(col("doc_id").as("vec_a"), col("split").as("sa")), "vec_a")
      .join(splits.select(col("doc_id").as("vec_b"), col("split").as("sb")), "vec_b")
      .select(least(col("sa"), col("sb")).as("split_a"),
              greatest(col("sa"), col("sb")).as("split_b"),
              round(col("cosine") * 1000, 0).cast("long").as("cp"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"),
           expr("sum(cp) div count(1)").as("mean_cos_permille"))
      .coalesce(1).orderBy("split_a", "split_b")
  }

  /** Quality-classifier TRAINING (round 14) — the fastText/CCNet-style
    * pipeline step: fit a logistic regression over row-local document
    * features (log length, token count, mean token length,
    * distinct-token permille, indicator-token rates) against the
    * is-English label, by full-batch gradient descent where each
    * iteration is ONE map-side-combinable aggregate over a
    * materialized feature projection
    * ([[graft.Graft.logisticTrain]] — the pca_power matrix-free
    * stance). Output: the per-iteration training ledger (iter,
    * loss_micro, acc_permille) — loss from the 2⁻²⁴ fixed-point
    * decimal aggregate (bit-stable under any partitioning), accuracy
    * from integer confusion counts riding the same pass; the
    * trajectory IS the artifact (monotone descent legible in the
    * table). No SQL oracle: 12 iterations of float GD (the
    * q_unigram_lm stance); gradient-vs-finite-difference, convergence,
    * regularization and determinism are pinned in LogisticSpec. */
  def q_quality_lr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val model = lrModel(s, d)
    model.trail.zipWithIndex.map { case (it, i) =>
      val correct = it.tp + it.tn
      val total = it.tp + it.fp + it.tn + it.fn
      ((i + 1).toLong, math.floor(it.loss * 1e6).toLong,
       correct * 1000L / total)
    }.toDF("iter", "loss_micro", "acc_permille").orderBy("iter")
  }

  /** The trained classifier, one per input (see
    * [[trainedOnDocuments]]): training is 12 sequential GD jobs, so a
    * re-invocation (the Bench retime pass, any second consumer) must
    * replay the ledger from driver state, not re-descend. */
  private val lrModelCache: ModelCache[graft.LogisticModel] = new ModelCache

  /** ONE definition of the classifier's feature columns — training
    * ([[q_quality_lr]]) and held-out evaluation ([[q_quality_eval]])
    * must never drift on a feature expression. */
  private[graft] def lrFeatures: Seq[org.apache.spark.sql.Column] = {
    val nt = size(toks).cast("double")
    Seq(log1p(col("n_chars")),
        nt,
        col("n_chars") / greatest(nt, lit(1.0)),
        size(array_distinct(toks)) * lit(1000.0) / greatest(nt, lit(1.0)),
        size(filter(toks, t => t === "the")) / greatest(nt, lit(1.0)),
        size(filter(toks, t => t === "hash")) / greatest(nt, lit(1.0)),
        size(filter(toks, t => t === "data")) / greatest(nt, lit(1.0)),
        size(filter(toks, t => t === "join")) / greatest(nt, lit(1.0)))
  }

  private[graft] def lrModel(s: SparkSession, d: String): graft.LogisticModel =
    trainedOnDocuments(lrModelCache, s, d)(
      graft.Graft.logisticTrain(_, (col("lang") === "en").cast("double"), lrFeatures,
        iters = 12, lr = 1.0))

  /** Quality-classifier held-out EVALUATION (round 14) — the loop
    * [[q_quality_lr]] opens, closed: score the deterministic 10%
    * test split (the q_split_leakage hash — docs the trainer also
    * saw, stated plainly in scaladoc; the split exists so the
    * report shape matches a real pipeline's, where training would
    * filter to the train split) with the CACHED model and report
    * the one row an eval dashboard shows: test size, the 0.5-
    * threshold confusion (tp/fp/tn/fn), integer accuracy permille,
    * and the held-out ROC AUC in ppm.
    *
    * AUC rides [[q_quality_auc]]'s grouped-midrank machinery over
    * the micro-QUANTIZED score ⌊10⁶·p⌋ — the quantization bounds
    * the rank table at ≤ 10⁶+1 rows at ANY corpus size (ties on the
    * micro grid midrank, the stated contract), so the only
    * corpus-scale stage is one map-side-combinable aggregate.
    * Prediction is row-local ([[graft.Graft.logisticPredict]] —
    * pure column arithmetic, codegen-fused, zero shuffle). Oracle =
    * no (scores from the float-trained model — the q_quality_lr
    * stance); confusion + AUC are pinned against a driver-side
    * brute force in LogisticSpec. */
  def q_quality_eval(s: SparkSession, d: String): DataFrame = {
    val model = lrModel(s, d)
    val h = col("doc_id") % 1000000007L * 2654435761L % 1000L
    val scored = Tables.documents(s, d)
      .filter(h >= 900)
      .select((col("lang") === "en").cast("long").as("y"),
              floor(graft.Graft.logisticPredict(model, lrFeatures) * 1e6)
                .cast("long").as("p_micro"))
    val byScore = scored.groupBy("p_micro")
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val wBefore = Window.orderBy("p_micro")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("c_before", coalesce(sum(col("cnt")).over(wBefore), lit(0L)))
      .agg(sum(col("cnt")).as("n_test"),
           sum(col("pos")).as("n_pos"),
           sum(col("pos").cast("decimal(38,0)")
                 * (col("c_before") * 2 + col("cnt") + 1)).as("sum_rank_x2"),
           sum(when(col("p_micro") >= 500000, col("pos")).otherwise(lit(0L)))
             .as("tp"),
           sum(when(col("p_micro") >= 500000, col("cnt") - col("pos"))
                 .otherwise(lit(0L))).as("fp"),
           sum(when(col("p_micro") < 500000, col("cnt") - col("pos"))
                 .otherwise(lit(0L))).as("tn"),
           sum(when(col("p_micro") < 500000, col("pos")).otherwise(lit(0L)))
             .as("fn"))
      .select(col("n_test"), col("tp"), col("fp"), col("tn"), col("fn"),
              expr("(tp + tn) * 1000L div n_test").as("acc_permille"),
              // div, not FLOOR(/): see q_quality_auc — decimal `/`
              // pre-rounds HALF_UP at scale 6, off-by-one vs exact
              // integer floor once 2·n_pos·n_neg > 2e6
              when(col("n_pos") > 0 && col("n_pos") < col("n_test"),
                   expr("""(sum_rank_x2
                            - CAST(n_pos AS DECIMAL(38,0))
                              * (n_pos + 1))
                           * 1000000
                           div (2 * CAST(n_pos AS DECIMAL(38,0))
                                  * (n_test - n_pos))"""))
                .as("auc_ppm"))
  }

  /** Quality-classifier CALIBRATION report (round 15) — the
    * reliability table + Brier decomposition next to
    * [[q_quality_eval]]'s AUC (round-14 verdict #7): a classifier
    * gating a training corpus must not only RANK well but mean what
    * it says — a gate at p ≥ 0.5 throws away the wrong mass if
    * p = 0.8 empirically means 60%. Per predicted-probability decile
    * (bin = ⌊10⁶·p⌋ div 10⁵, top edge clamped into bin 9): count,
    * mean predicted ppm, observed positive-rate ppm, the signed
    * calibration gap, and the bin's reliability / resolution
    * contributions (Murphy 1973's decomposition — Brier =
    * reliability − resolution + uncertainty); the global brier_ppm
    * and uncertainty_ppm ride every row as constants so one table
    * carries the whole dashboard.
    *
    * All arithmetic is integer from the micro-quantized score on
    * (squares and n·gap² products in decimal(38,0) — n·10¹² wraps a
    * long past ~9.2e6 docs — with `div`, never FLOOR(/)); the model
    * itself is float-trained, so oracle = no (the q_quality_lr /
    * q_quality_eval stance) and LogisticSpec pins every column
    * against a driver-side brute force over the same micro scores.
    * Scale shape: prediction is row-local; ONE map-side-combinable
    * groupBy on the ≤ 10-value bin key collapses the corpus; all
    * windows/crosses below run on ≤ 10 rows. */
  def q_quality_calib(s: SparkSession, d: String): DataFrame = {
    val model = lrModel(s, d)
    val h = col("doc_id") % 1000000007L * 2654435761L % 1000L
    val scored = Tables.documents(s, d)
      .filter(h >= 900)
      .select((col("lang") === "en").cast("long").as("y"),
              floor(graft.Graft.logisticPredict(model, lrFeatures) * 1e6)
                .cast("long").as("p_micro"))
    val byBin = scored
      .withColumn("bin", least(expr("p_micro div 100000"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
           sum(col("p_micro")).as("sum_p"),
           sum(col("y")).as("pos"),
           sum(expr("""CAST(p_micro - y * 1000000 AS DECIMAL(38,0))
                       * (p_micro - y * 1000000)""")).as("sq_err"))
    val tot = byBin.agg(sum(col("n")).as("n_test"),
                        sum(col("pos")).as("n_pos"),
                        sum(col("sq_err")).as("sq_all"))
    byBin.crossJoin(broadcast(tot))
      .withColumn("mean_p_ppm", expr("sum_p div n"))
      .withColumn("frac_pos_ppm", expr("pos * 1000000 div n"))
      .withColumn("gap_ppm", col("mean_p_ppm") - col("frac_pos_ppm"))
      .withColumn("ybar_ppm", expr("n_pos * 1000000 div n_test"))
      // Murphy terms, per bin in ppm of probability²:
      // rel_k = n_k(p̄_k − ȳ_k)²/N, res_k = n_k(ȳ_k − ȳ)²/N
      .withColumn("rel_ppm",
        expr("""CAST(n AS DECIMAL(38,0)) * gap_ppm * gap_ppm
                div (CAST(n_test AS DECIMAL(38,0)) * 1000000)"""))
      .withColumn("res_ppm",
        expr("""CAST(n AS DECIMAL(38,0))
                * (frac_pos_ppm - ybar_ppm) * (frac_pos_ppm - ybar_ppm)
                div (CAST(n_test AS DECIMAL(38,0)) * 1000000)"""))
      .withColumn("brier_ppm", expr("sq_all div (CAST(n_test AS DECIMAL(38,0)) * 1000000)"))
      .withColumn("uncertainty_ppm",
        expr("""CAST(ybar_ppm AS DECIMAL(38,0)) * (1000000 - ybar_ppm)
                div 1000000"""))
      .select(col("bin"), col("n"), col("mean_p_ppm"), col("frac_pos_ppm"),
              col("gap_ppm"), col("rel_ppm"), col("res_ppm"),
              col("brier_ppm"), col("uncertainty_ppm"))
      .coalesce(1).orderBy("bin")
  }

  /** Unigram-LM tokenizer SEED table (round 14) — the candidate-piece
    * mass ranking the [[q_unigram_lm]] trainer prunes from: every
    * substring of length 1..4 of every word type, scored by total
    * occurrence mass (frequency × in-word positions), top 30. This is
    * the half of the SentencePiece pipeline that IS pure relational
    * algebra, so it carries the SQL oracle for the family; the EM
    * stage above it is float-iterative and verifies by property
    * (UnigramLmSpec), the q_bpe_vocab/q_dedup_minhash split. Integer
    * mass, ties on piece text (rule O). */
  def q_unigram_seed(s: SparkSession, d: String): DataFrame =
    graft.Graft.unigramSeedPieces(Tables.documents(s, d), col("text"),
                                  maxPieceLen = 4, topK = 30)

  /** The trained unigram-LM model, one per input (see
    * [[trainedOnDocuments]]): [[q_unigram_lm]] emits the model table and
    * [[q_unigram_encode]] applies it; without the cache each would
    * re-run the corpus pass + 4 EM aggregates for an identical model. */
  private val unigramModelCache: ModelCache[graft.UnigramLmModel] = new ModelCache

  private def unigramModel(s: SparkSession, d: String): graft.UnigramLmModel =
    trainedOnDocuments(unigramModelCache, s, d)(
      graft.Graft.unigramLmTrain(_, col("text"),
        maxPieceLen = 4, seedSize = 128, targetVocab = 48, emIters = 2))

  /** The learned unigram-LM VOCABULARY as a first-class query
    * (round 14) — (rank, piece, prob_micro): the model artifact
    * itself, the q_bpe_vocab stance (any other system needs exactly
    * this table to reproduce the segmentation). prob_micro =
    * floor(probability × 10⁶) — the probabilities are exact ratios of
    * the final EM round's integer masses ([[graft.Graft.unigramLmTrain]]'s
    * fixed-point discipline), so the table is bit-stable across runs
    * and partitionings. No SQL oracle: the model is the product of 4
    * EM rounds of log-space forward–backward — not expressible in
    * DuckDB SQL (the q_dedup_minhash stance); EM monotonicity,
    * kernel-vs-enumeration equality, coverage and determinism are
    * pinned in UnigramLmSpec. */
  def q_unigram_lm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    unigramModel(s, d).pieces.zipWithIndex
      .map { case ((p, prob), i) =>
        ((i + 1).toLong, p, math.floor(prob * 1e6).toLong) }
      .toDF("rank", "piece", "prob_micro")
      .orderBy("rank")
  }

  /** Unigram-LM ENCODE (round 14) — the application face, mirroring
    * [[q_bpe_encode]]'s report shape so the two tokenizer families
    * read side by side: per source, word count, character-symbol
    * baseline, unigram token count (row-local Viterbi under the
    * cached model — zero shuffle), and the integer permille saved.
    * Same model as [[q_unigram_lm]] (cached); oracle = no for the
    * same reason. */
  def q_unigram_encode(s: SparkSession, d: String): DataFrame = {
    val model = unigramModel(s, d)
    Tables.documents(s, d)
      .select(col("source"), explode(toks).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("source"), length(col("w")).cast("long").as("nc"),
              graft.Graft.bpeTokenCount(
                graft.Graft.unigramEncode(col("w"), model)).as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
           sum("nc").as("n_char_syms"),
           sum("nt").as("n_unigram_tokens"))
      .withColumn("saved_permille",
                  expr("(n_char_syms - n_unigram_tokens) * 1000L div n_char_syms"))
      .coalesce(1).orderBy("source")
  }

  /** Quality-score language-BIAS audit (round 14) — the evaluation
    * face of the quality family: a heuristic filter that ranks one
    * language's documents systematically above the rest silently
    * skews the training mixture, so a pipeline dashboard wants the
    * one-vs-rest ROC AUC of the score per language (AUC ≈ 500000 ppm
    * ⇒ the score is language-blind; far from it ⇒ bias). Score =
    * [[q_text_quality]]'s composite `quality_permille`; AUC is the
    * EXACT tie-corrected Mann–Whitney rank-sum, not a sampled
    * estimate.
    *
    * Scale shape: the score takes ≤ 1001 integer values, so the
    * global ranking never sorts documents — two map-side-combinable
    * aggregates (per score, per lang × score) collapse the corpus to
    * ≤ 1001-row tables, the midrank prefix-sum windows over THAT
    * (metadata-scale single partition, like every group-scale window
    * here), and the rank-sum re-expands arithmetically: every doc in
    * a score group has doubled midrank 2·c_before + cnt + 1.
    * Doubled ranks keep ties integral (rule I); the rank-sum
    * accumulates in decimal(38,0) — Σ ≤ N·(2N+1) overflows a long
    * past N ≈ 2.1e9 docs — and the final ppm division is `div`
    * (IntegralDivide) on the decimal operands, exact at any N:
    * decimal `/` + FLOOR would pre-round HALF_UP at scale 6 and
    * floor one too high whenever the true quotient sits within 5e-7
    * below an integer — possible once 2·n_pos·n_neg > 2e6, i.e.
    * ~1000 docs per class (round-14 ADVICE).
    * The oracle recomputes from raw text in SQL, blind to the
    * grouped-rank trick. */
  def q_quality_auc(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("lang"),
              graft.Graft.qualitySignals(col("text"), col("n_chars"))
                .getField("quality_permille").as("score"))
    val byScore = scored.groupBy("score").agg(count(lit(1)).as("cnt"))
    val wBefore = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = byScore.withColumn(
      "c_before", coalesce(sum(col("cnt")).over(wBefore), lit(0L)))
    val byLang = scored.groupBy("lang", "score").agg(count(lit(1)).as("pos"))
    byLang.join(cum, "score")
      .groupBy("lang")
      .agg(sum(col("pos")).as("n_pos"),
           sum(col("pos").cast("decimal(38,0)")
                 * (col("c_before") * 2 + col("cnt") + 1)).as("sum_rank_x2"))
      .withColumn("n_total", sum(col("n_pos")).over(Window.partitionBy()))
      .select(col("lang"), col("n_pos"),
              (col("n_total") - col("n_pos")).as("n_neg"),
              // `div` (IntegralDivide), not FLOOR(a/b): decimal `/`
              // rounds HALF_UP to scale 6 BEFORE the floor, so a
              // quotient within 5e-7 below an integer floors one too
              // high vs DuckDB's exact HUGEINT `//` once
              // 2·n_pos·n_neg > 2e6 (round-14 ADVICE). Operands stay
              // decimal(38,0); div is exact and returns BIGINT.
              expr("""(sum_rank_x2
                       - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))
                      * 1000000
                      div (2 * CAST(n_pos AS DECIMAL(38,0))
                             * (n_total - n_pos))""").as("auc_ppm"))
      .orderBy("lang")
  }

  /** Precision/recall curve of the heuristic quality score against
    * the is-English label (round 15) — the threshold-CHOOSING table
    * between [[q_quality_auc]]'s ranking audit (is the score
    * biased?) and [[q_quality_gate]]'s drop accounting (what does a
    * chosen gate cost?): per candidate gate t ∈ {0, 100, …, 900} on
    * the 0-1000 integer score, the confusion mass (predict positive
    * iff score ≥ t) and integer precision/recall permille. The
    * curve an operator reads top-down to pick the gate at the
    * precision they can afford.
    *
    * Scale shape: the q_quality_auc collapse — ONE map-side-
    * combinable (score-decile) aggregate shrinks the corpus to ≤ 10
    * rows, a reversed prefix sum over THAT yields every threshold's
    * tp/fp simultaneously (no per-threshold scan), and all division
    * is integer `div` with an explicit n_pred = 0 guard (precision
    * at an empty prediction set is reported as 0 with n_pred = 0
    * carried, never a null/throw divergence — both engines state
    * the same CASE). threshold unique (rule O); all-integer
    * (rule I). */
  def q_pr_curve(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select((col("lang") === "en").cast("long").as("y"),
              graft.Graft.qualitySignals(col("text"), col("n_chars"))
                .getField("quality_permille").as("score"))
    val byBucket = scored
      .withColumn("b", least(expr("score div 100"), lit(9L)))
      .groupBy("b")
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val wFrom = Window.orderBy(col("b"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wAll = Window.partitionBy()
    byBucket
      .withColumn("tp", sum(col("pos")).over(wFrom))
      .withColumn("n_pred", sum(col("cnt")).over(wFrom))
      .withColumn("n_pos", sum(col("pos")).over(wAll))
      .select((col("b") * 100).as("threshold"),
              col("n_pred"), col("tp"),
              (col("n_pred") - col("tp")).as("fp"),
              (col("n_pos") - col("tp")).as("fn"),
              when(col("n_pred") > 0, expr("tp * 1000 div n_pred"))
                .otherwise(lit(0L)).as("precision_permille"),
              when(col("n_pos") > 0, expr("tp * 1000 div n_pos"))
                .otherwise(lit(0L)).as("recall_permille"))
      .orderBy("threshold")
  }

  /** Token-budget allocation (round 14) — the mixture-DESIGN step
    * after [[q_mixture_weights]]'s descriptive shares: given a
    * 2-epoch-equivalent total budget (2000‰ of corpus token mass)
    * and the data-constrained 4-epoch repeat cap per source
    * (4000‰ of each source's own mass), allocate the budget to
    * sources proportionally to ⌊√tokens⌋ with cap overflow
    * re-flowing to uncapped sources — EXACT water-filling decided in
    * one window pass over the ≤ |sources|-row aggregate (the
    * prefix-test monotonicity argument on
    * [[graft.Graft.tokenBudget]], which this query IS, so the oracle
    * verifies the public facade). Integer allocations (rule I);
    * per-source epochs_milli is the number a training-mixture review
    * actually reads (who trains at 4 epochs, who below 1). */
  def q_token_budget(s: SparkSession, d: String): DataFrame =
    graft.Graft.tokenBudget(Tables.documents(s, d), col("source"), size(toks))
      .orderBy("group")

  /** Source-drift detection (round 14) — the two-sample
    * Kolmogorov–Smirnov statistic between every pair of sources on
    * the document-length distribution: the monitoring query a crawl
    * pipeline runs when a source's content shifts (a CMS migration, a
    * spam flood) before any model-side signal moves. Statistic =
    * max over the merged length spine of the ppm-quantized-ECDF gap
    * |⌊10⁶·F_a⌋ − ⌊10⁶·F_b⌋| (within 1 ppm of the true KS D; the
    * per-term floor keeps every intermediate a long for any source
    * up to 9.2e12 docs — rule I's integer stance applied to a
    * ratio), plus the smallest length where the max is attained.
    *
    * Scale shape: ONE map-side-combinable (source, n_chars) count
    * collapses the corpus to value-scale; the 20-source spine pairs
    * through a broadcast theta self-join (≤ k² rows — the
    * q_vocab_overlap posture) and fans counts back via an equi-join
    * on source, so the windows/rollups run over pairs × distinct
    * lengths — metadata-scale at any corpus size. The oracle mirrors
    * the definition in SQL windows. */
  def q_ks_drift(s: SparkSession, d: String): DataFrame =
    ksDriftFromCounts(Tables.documents(s, d)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("c")))

  /** Population-stability-index drift monitor (round 16) — the
    * BINNED face next to [[q_ks_drift]]'s ECDF statistic: KS reads
    * the worst single point of the distribution gap, PSI
    * (Σ (p_i − q_i)·ln(p_i/q_i), the credit-scoring monitoring
    * canon) reads the total mass displacement across bins, so the
    * two disagree exactly when drift is spread thin — the reason
    * dashboards run both. Bins = the power-of-two length buckets
    * (bit width of n_chars — the q_length_buckets / q_zorder_layout
    * key), ≤ ~20 at any corpus size; counts Laplace-smooth +1 on
    * BOTH sides over the pair's union-bucket set (zero-bucket ln
    * guard stated identically in both engines as arithmetic, not a
    * CASE). Per source pair: doc counts, union bucket count, and
    * psi rounded to 6 (rule F: a ≤ 20-term float sum under round-6
    * is the q_bigram_entropy stance).
    *
    * Scale shape: ONE map-side-combinable (source, bucket) count
    * collapses the corpus to ≤ sources × 20 rows; the pair spine
    * and fan-back are q_ks_drift's broadcast theta + equi-join; the
    * windows partition metadata-scale rows. The oracle mirrors the
    * definition in SQL windows, blind to the Spark shapes. */
  def q_psi_drift(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .groupBy(col("source"), length(bin(col("n_chars"))).as("bkt"))
      .agg(count(lit(1)).as("c"))
    val srcs = counts.select("source").distinct()
    val pairs = srcs.as("a")
      .join(srcs.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
    val member = pairs.select(col("src_a").as("source"), col("src_a"), col("src_b"))
      .union(pairs.select(col("src_b").as("source"), col("src_a"), col("src_b")))
    val merged = member.join(counts, "source")
      .groupBy("src_a", "src_b", "bkt")
      .agg(sum(when(col("source") === col("src_a"), col("c")).otherwise(lit(0L)))
             .as("ca"),
           sum(when(col("source") === col("src_b"), col("c")).otherwise(lit(0L)))
             .as("cb"))
    val wAll = Window.partitionBy("src_a", "src_b")
    merged
      .repartitionByRange(col("src_a"), col("src_b"))
      .withColumn("n_a", sum(col("ca")).over(wAll))
      .withColumn("n_b", sum(col("cb")).over(wAll))
      .withColumn("nb", count(lit(1)).over(wAll))
      .withColumn("p", (col("ca") + 1).cast("double") / (col("n_a") + col("nb")))
      .withColumn("q", (col("cb") + 1).cast("double") / (col("n_b") + col("nb")))
      .groupBy("src_a", "src_b")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
           max(col("nb")).as("n_buckets"),
           round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6)
             .as("psi"))
      .orderBy("src_a", "src_b")
  }

  /** The KS tail over an ALREADY-AGGREGATED (source, n_chars, c)
    * count table — factored out because the counts are the monitor's
    * whole STATE and they are mergeable sums: a streaming deployment
    * accumulates per-crawl-batch count deltas and re-runs only this
    * metadata-scale tail, never re-scanning the corpus (micro-batch
    * exactness under any split is pinned in StreamingTwinSpec). */
  private[graft] def ksDriftFromCounts(counts: DataFrame): DataFrame = {
    val srcs = counts.select("source").distinct()
    val pairs = srcs.as("a")
      .join(srcs.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
    // fan each pair to its two member sources so the counts attach
    // through an EQUI-join (the pair spine broadcasts off file stats)
    val member = pairs.select(col("src_a").as("source"), col("src_a"), col("src_b"))
      .union(pairs.select(col("src_b").as("source"), col("src_a"), col("src_b")))
    val merged = member.join(counts, "source")
      .groupBy("src_a", "src_b", "n_chars")
      .agg(sum(when(col("source") === col("src_a"), col("c")).otherwise(lit(0L)))
             .as("ca"),
           sum(when(col("source") === col("src_b"), col("c")).otherwise(lit(0L)))
             .as("cb"))
    val wCum = Window.partitionBy("src_a", "src_b").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("src_a", "src_b")
    merged
      .repartitionByRange(col("src_a"), col("src_b"))
      .withColumn("cum_a", sum(col("ca")).over(wCum))
      .withColumn("cum_b", sum(col("cb")).over(wCum))
      .withColumn("n_a", sum(col("ca")).over(wAll))
      .withColumn("n_b", sum(col("cb")).over(wAll))
      .withColumn("gap", abs(expr("cum_a * 1000000L div n_a")
                               - expr("cum_b * 1000000L div n_b")))
      .withColumn("ks_ppm", max(col("gap")).over(wAll))
      .filter(col("gap") === col("ks_ppm"))
      .groupBy("src_a", "src_b")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
           max(col("ks_ppm")).as("ks_ppm"),
           min(col("n_chars")).as("at_n_chars"))
      .orderBy("src_a", "src_b")
  }
}
