"""Text-analysis queries over the ``documents`` table (SURVEY §2b).

All pure built-in expressions (see functions/text.py) — map-only plans with
no shuffle except the final aggregations; at 100 TB each is a single pass
over the text column with column pruning (only ``text`` + keys are read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_saas_etl_spark.catalog import ensure_parallelism, load_tables
from aws_saas_etl_spark.functions import num as N
from aws_saas_etl_spark.functions import text as T
from aws_saas_etl_spark.sources.custom import store_and_read_back, store_base_with_delta

TFIDF_TOP_K = 5


def doc_text_stats(spark, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics (token counting, SURVEY §2b)."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return docs.select(
        "doc_id",
        T.char_count("text").alias("n_chars_computed"),
        T.token_count("text").alias("n_tokens"),
        T.distinct_token_count("text").alias("n_distinct_tokens"),
        T.whitespace_token_count("text").alias("n_ws_tokens"),
        F.round(T.mean_token_length("text"), 6).alias("mean_token_len"),
    )


def doc_quality_scores(spark, sf_dir: str) -> DataFrame:
    """Per-document quality signals + composite score (quality filtering)."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return docs.select(
        "doc_id",
        F.round(T.alpha_ratio("text"), 6).alias("alpha_ratio"),
        F.round(T.stopword_ratio("text", "en"), 6).alias("stopword_ratio_en"),
        F.round(T.quality_score("text"), 6).alias("quality_score"),
    )


def doc_language_id(spark, sf_dir: str) -> DataFrame:
    """Stopword-argmax language ID vs the labeled ``lang`` column,
    aggregated into a (lang, lang_pred) confusion table."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return (
        docs.select("lang", T.language_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def doc_fingerprints(spark, sf_dir: str) -> DataFrame:
    """Rolling/normalized document fingerprint (md5 of normalized text) —
    the join key for cheap cross-corpus dedup."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return docs.select(
        "doc_id",
        T.fingerprint("text").alias("fingerprint"),
        F.sha2(T.normalized_text("text"), 256).alias("sha256_norm"),
    )


def doc_bpe_token_counts(spark, sf_dir: str) -> DataFrame:
    """Token-budget estimation (SURVEY §2b token counting): whitespace
    count beside the BPE-ish pre-tokenizer count — the two length signals
    an LLM ingest pipeline tracks per document. Map-only, one text pass."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return docs.select(
        "doc_id",
        T.whitespace_token_count("text").alias("n_ws_tokens"),
        T.bpe_token_count("text").alias("n_bpe_tokens"),
    )


def winnow_fingerprint_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, fps) winnowing fingerprint sets — the shared kernel of
    ``doc_winnow_fingerprints`` (per-doc digests) and
    ``doc_contamination_pairs`` (cross-doc overlap join). Docs without a
    complete k-gram window produce no row (callers restore them)."""
    k, w = T.WINNOW_K, T.WINNOW_W
    base = docs.select("doc_id", T.normalized_text("text").alias("txt"))
    n = F.length("txt")
    positions = F.when(
        # guard: sequence(1, non-positive) would DESCEND, not return empty
        n >= k, F.sequence(F.lit(1), (n - k + 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    hashed = base.select("doc_id", "txt", F.explode(positions).alias("i")).select(
        "doc_id",
        "i",
        (F.length("txt") - (k - 1)).alias("m"),
        T.kgram_hash(F.col("txt").substr(F.col("i"), F.lit(k)), k).alias("h"),
    )
    sliding = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, w - 1)
    return (
        hashed.withColumn("wmin", F.min("h").over(sliding))
        # only positions with a COMPLETE w-window ahead of them
        .where(F.col("i") <= F.col("m") - (w - 1))
        .groupBy("doc_id")
        .agg(F.sort_array(F.array_distinct(F.collect_list("wmin"))).alias("fps"))
    )


def doc_winnow_fingerprints(spark, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting via winnowing (SURVEY §2b):
    k-gram rolling hashes → per-window minima → distinct fingerprint set.
    Emitted as (count, digest) so the result stays narrow; the fingerprint
    set is what a plagiarism/overlap join would explode on.

    Shape: explode k-gram POSITIONS (the generator's child projection
    materializes the normalized text once per document — any expression
    referenced inside an array-lambda instead is re-evaluated per element,
    the measured O(n²)-regex trap, see functions/text.py) → hash each gram
    once per row with codegen'd integer ops → sliding w-row window minimum
    → groupBy doc_id. Linear per document and distributed by doc_id; the
    groupBy reuses the window's hash partitioning (one shuffle for both).
    Docs with no complete k-gram window are restored by a left join and
    fingerprint to the empty set (digest = md5(''))."""
    k = T.WINNOW_K
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    # join side: (doc_id, n_kgrams) computed arithmetically — no gram
    # array is built or shipped through the join shuffle
    counts = docs.select(
        "doc_id",
        F.greatest(
            F.length(T.normalized_text("text")) - (k - 1), F.lit(0)
        ).alias("n_kgrams"),
    )
    winmins = winnow_fingerprint_sets(docs)
    fps = F.coalesce("fps", F.array().cast("array<bigint>"))
    digest = F.md5(F.concat_ws(",", F.transform(fps, lambda h: h.cast("string"))))
    return counts.join(winmins, "doc_id", "left").select(
        "doc_id",
        "n_kgrams",
        F.size(fps).alias("n_fingerprints"),
        digest.alias("winnow_digest"),
    )


def doc_tfidf_top_terms(spark, sf_dir: str, top_k: int = TFIDF_TOP_K) -> DataFrame:
    """Top-k TF-IDF terms per document (keyword extraction / topical
    weighting for corpus curation). idf = ln((N+1)/(df+1)) + 1 (smoothed,
    sklearn-style, never negative).

    Scale shape: explode → (doc, term) count → per-term doc frequency →
    tf⋈df on term (both sides partitioned by term, the df side's shuffle
    is reused) → 1-row broadcast of N → per-doc top-k window. No side
    grows super-linearly; the vocabulary table is sublinear in corpus
    size and never broadcast (AQE picks the strategy).

    Ordering ties rank by the ROUNDED tfidf then term so both engines
    break float near-ties identically."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    terms = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_docs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1) / (F.col("df_docs") + 1)) + F.lit(1.0)
    scored = (
        tf.join(df_docs, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", N.dround(F.col("tf") * idf, 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= top_k)
        .select("doc_id", "term", "tf", "df_docs", "tfidf", "term_rank")
        .orderBy("doc_id", "term_rank")
    )


def doc_token_frequencies(spark, sf_dir: str, top_n: int = 20) -> DataFrame:
    """Corpus-level top-N token frequencies: explode → two-level aggregate.

    At scale the explode is map-side and the groupBy shuffles (token,
    count) partials only — the classic word-count plan.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(top_n)
    )


# Filter-pipeline thresholds: the canonical keep/reject gate an LLM
# training-data pipeline applies before tokenization.
FILTER_MIN_TOKENS = 20
FILTER_MIN_QUALITY = 0.55


def doc_filter_pipeline(spark, sf_dir: str) -> DataFrame:
    """Composed training-data filter: per document, one verdict with the
    FIRST failing gate as the reason — exact-dup (sha256 group, keeper =
    min doc_id), too-short, unknown-language, low-quality, else keep.

    One pass over text + one window shuffle on the sha256 hash (the dup
    group key — high-cardinality, so evenly partitioned at any scale).

    Every gate signal is computed BEFORE the window shuffle, in the fully
    parallel scan projection, and only booleans + the hash travel through
    the exchange. The earlier shape evaluated the gates after the window,
    where AQE had coalesced the (byte-small, regex-expensive) rows into
    few partitions — the text-heavy gates ran nearly serially. Measured
    2× on the sf0.1 bench; the lost when-chain short-circuit is noise
    beside that (the gates all scan the same tokens() array).
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    return filter_verdicts(docs).orderBy("doc_id")


def gate_signals(docs: DataFrame) -> DataFrame:
    """The per-document gate projection (doc_id, sha, too_short,
    lang_unknown, low_quality) — split out so the incremental manifest
    can evaluate the SAME gates over just an arriving delta slice."""
    return docs.select(
        "doc_id",
        F.sha2("text", 256).alias("sha"),
        (T.token_count("text") < FILTER_MIN_TOKENS).alias("too_short"),
        (T.language_id("text") == "und").alias("lang_unknown"),
        (T.quality_score("text") < FILTER_MIN_QUALITY).alias("low_quality"),
    )


def gate_verdict(keeper):
    """The shared gate chain given a resolved exact-dup keeper column."""
    return (
        F.when(F.col("doc_id") != keeper, F.lit("exact_dup"))
        .when(F.col("too_short"), F.lit("too_short"))
        .when(F.col("lang_unknown"), F.lit("lang_unknown"))
        .when(F.col("low_quality"), F.lit("low_quality"))
        .otherwise(F.lit("keep"))
    )


def verdicts_from_signals(signals: DataFrame) -> DataFrame:
    """Verdicts from an existing gate-signal frame (doc_id, sha, gate
    booleans) — the path the manifest-maintenance queries take over
    their STORED signals table, skipping the text re-scan. The keeper
    window runs over whatever slice is passed in, which is exactly the
    semantics the callers need (base-slice keepers for arrivals,
    survivor keepers for deletions)."""
    w = Window.partitionBy("sha")
    scored = signals.withColumn("keeper", F.min("doc_id").over(w))
    return scored.select(
        "doc_id", gate_verdict(F.col("keeper")).alias("verdict")
    )


def filter_verdicts(docs: DataFrame) -> DataFrame:
    """Verdicts over any (doc_id, text) frame — the core of
    doc_filter_pipeline. Append-only stability: the exact-dup keeper is
    min(doc_id) per sha group, so verdicts computed over a historical
    slice stay valid verbatim when later (higher-id) documents arrive —
    the property the incremental manifest's stored state relies on."""
    return verdicts_from_signals(gate_signals(docs))


def doc_repetition_metrics(spark, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of tokens
    belonging to the single most frequent token, fraction of tokens that
    occur more than once, and the same top-fraction for adjacent-token
    bigrams. High values flag boilerplate / degenerate documents that an
    LLM training-data pipeline rejects (Rae et al. 2021's repetition
    filters, re-expressed over this corpus's token model).

    Scale shape: two explode→groupBy aggregates, each keyed on the
    high-cardinality (doc_id, gram) pair — evenly partitioned at any
    corpus size, classic word-count plans. Their per-doc rollups reuse
    the doc_id partitioning (AQE coalesces the second shuffle). The
    final left joins restore token-less documents with zero fractions.
    Bigrams are built array-side with zip_with over two slices — one
    pass over the token array, no self-join.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    n = F.size("tk")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("tk", 1, n - 1),
            F.slice("tk", 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select("doc_id", T.tokens("text").alias("tk")).select(
        "doc_id", "tk", bigrams.alias("bg")
    )

    def gram_stats(col: str, prefix: str) -> DataFrame:
        cnts = (
            base.select("doc_id", F.explode(col).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return cnts.groupBy("doc_id").agg(
            F.max("cnt").alias(f"{prefix}_max"),
            F.sum("cnt").alias(f"{prefix}_total"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
                f"{prefix}_dup"
            ),
        )

    tok = gram_stats("tk", "tok")
    bg = gram_stats("bg", "bg")
    frac = lambda a, b: N.dround(  # noqa: E731
        F.coalesce(F.col(a).cast("double") / F.col(b), F.lit(0.0)), 6
    )
    return (
        base.select("doc_id")
        .join(tok, "doc_id", "left")
        .join(bg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("tok_total", F.lit(0)).alias("n_tokens"),
            frac("tok_max", "tok_total").alias("top_token_frac"),
            frac("tok_dup", "tok_total").alias("dup_token_frac"),
            frac("bg_max", "bg_total").alias("top_bigram_frac"),
        )
    )


# PII scrub patterns — constructs Java regex (Spark) and RE2 (DuckDB)
# interpret identically: no lookaround, no backreferences.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def doc_pii_redaction(spark, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails / URLs, emit a digest of the
    scrubbed text. The fixture corpus is synthetic word-salad with no PII,
    so the query PLANTS deterministic doc_id-derived PII on both the
    engine and oracle sides — the check then genuinely verifies that both
    regex engines match and replace the same spans (zero-match parity
    would verify nothing). Map-only, one text pass, no shuffle."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    planted = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        F.concat(F.lit("https://ex.io/d/"), F.col("doc_id").cast("string")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(planted, URL_RE, "<URL>"), EMAIL_RE, "<EMAIL>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(planted, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(planted, F.lit(URL_RE)).alias("n_urls"),
        F.md5(redacted).alias("redacted_md5"),
    )


VOCAB_MIN_COUNT = 5


def corpus_vocabulary(spark, sf_dir: str, min_count: int = VOCAB_MIN_COUNT) -> DataFrame:
    """Corpus vocabulary with a min-frequency cutoff: term count, document
    frequency, and frequency rank — the tokenizer-training precursor.

    explode → two-level agg (count + count-distinct docs via the partial-
    agg expansion Catalyst emits). The final rank is a global row_number
    over the SURVIVING vocabulary — bounded data (distinct tokens above
    the cutoff grow sub-linearly in corpus size), so the single-partition
    window sorts thousands of rows, not the corpus.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("term_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .where(F.col("term_count") >= min_count)
    )
    w = Window.orderBy(F.desc("term_count"), F.asc("token"))
    return vocab.withColumn("rank", F.row_number().over(w)).orderBy("rank")


# Sequence-packing parameters: context window size in BPE-ish tokens, and
# the shard fan-out. Packing has a sequential dependency WITHIN a shard
# (each doc's offset depends on every doc before it), so the scale unit is
# the shard: shards pack independently and in parallel, and a real 100 TB
# run sizes NUM_PACK_SHARDS to the cluster (thousands), keeping per-shard
# state bounded. The fixtures use a small constant for readable output.
PACK_CONTEXT = 2048
NUM_PACK_SHARDS = 16


def doc_sequence_packing(spark, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (LLM pretraining ingest): within
    a deterministic shard, documents are concatenated in doc_id order and
    chunked into fixed ``PACK_CONTEXT``-token windows; each document
    reports its starting window, ending window, and whether it straddles a
    chunk boundary (the rows a masking-aware loader needs).

    Scale shape: one running-sum window per shard — shard count scales
    with the corpus, so no partition sees more than corpus/shards rows;
    there is no global order and no single-partition cumsum anywhere.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    base = docs.select(
        "doc_id",
        F.pmod("doc_id", F.lit(NUM_PACK_SHARDS)).alias("shard"),
        T.bpe_token_count("text").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset")
    out = base.select("doc_id", "shard", "n_tokens", start)
    start_w = F.floor(F.col("start_offset") / PACK_CONTEXT)
    end_w = F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / PACK_CONTEXT)
    return out.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_offset",
        start_w.alias("start_window"),
        end_w.alias("end_window"),
        (end_w > start_w).cast("int").alias("spans_boundary"),
    )


def doc_length_histogram(spark, sf_dir: str) -> DataFrame:
    """Corpus token-length histogram in power-of-2 buckets — the length
    profile a context-length / curriculum decision reads. Map-side bucket
    id (floor(log2(n))) then a bounded-cardinality groupBy: one shuffle of
    at most ~60 rows per mapper at any corpus size."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    n = T.bpe_token_count("text")
    bucket = F.when(n <= 0, F.lit(-1)).otherwise(
        F.floor(F.log2(n.cast("double"))).cast("bigint")
    )
    return (
        docs.select(bucket.alias("log2_bucket"))
        .groupBy("log2_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("log2_bucket")
    )


# Decontamination thresholds: fingerprints shared by more than
# CONTAM_MAX_DF documents are corpus-idiomatic (stop-fingerprints), not
# contamination evidence — dropping them is what bounds the join fan-out.
CONTAM_MAX_DF = 10
CONTAM_MIN_SHARED = 3


def doc_contamination_pairs(spark, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination scan: document pairs sharing ≥
    ``CONTAM_MIN_SHARED`` rare winnowing fingerprints — the overlap check
    a training pipeline runs between its corpus and an eval set (here:
    the corpus against itself; pointing side A at a second table is the
    same plan).

    Scale shape: explode fingerprint sets → drop stop-fingerprints with a
    document-frequency filter (df ≤ CONTAM_MAX_DF) → fp-keyed self-join →
    per-pair count. The df cut bounds every per-fingerprint join block to
    ≤ max_df² pair rows, so the join is linear in corpus size times a
    constant — the same frequency-cut that makes suffix-array / Bloom
    decontamination tractable. The df aggregate reuses the explode's
    (doc_id, fp) rows; AQE handles residual fp skew.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    ex = winnow_fingerprint_sets(docs).select("doc_id", F.explode("fps").alias("fp"))
    rare = ex.join(
        ex.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("fp_df"))
        .where(F.col("fp_df") <= CONTAM_MAX_DF)
        .select("fp"),
        "fp",
    )
    a = rare.select(F.col("doc_id").alias("doc_a"), "fp")
    b = rare.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= CONTAM_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


def doc_unigram_logprob(spark, sf_dir: str) -> DataFrame:
    """Mean unigram negative log-probability per document — the cheapest
    LM-based quality signal (a degenerate 1-gram language model scored on
    its own corpus; high values flag rare-token / noisy documents, the
    same role the perplexity filter plays in LLM data pipelines).

    Scale shape: corpus unigram counts (word-count plan), token-keyed
    join back to the exploded docs (both sides partitioned by token — the
    count's exchange is reused), per-doc average. The vocabulary side is
    sublinear in corpus size and never collected.

    ln(count/total) uses the per-engine double log — scores are rounded
    to 6dp and both engines compute the identical expression tree
    (log of a ratio of exact integers), so the doubles agree bitwise.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).alias("n_total"))
    neglogp = -F.log(F.col("c").cast("double") / F.col("n_total"))
    return (
        tok.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # decimal-accumulated average: per-element double→decimal cast
            # is deterministic (the doubles are the same expression tree in
            # both engines); a plain double avg would be summation-order-
            # dependent across partitions
            N.davg_rounded(neglogp, 6).alias("mean_neg_logp"),
        )
        .orderBy("doc_id")
    )


BIGRAM_MIN_COUNT = 5
BIGRAM_TOP_K = 3


def corpus_bigram_lm(spark, sf_dir: str) -> DataFrame:
    """Bigram conditional probabilities — the 2-gram language-model table:
    for each context token, the top-k continuations by P(w2|w1) =
    c(w1,w2)/c(w1), over bigrams seen ≥ BIGRAM_MIN_COUNT times.

    Scale shape: one explode builds positions once; bigram and unigram
    counts are two aggregates over it (token-keyed, evenly partitioned);
    the probability join is on the context token so the unigram side's
    exchange is reused. Top-k per context runs as WindowGroupLimit. The
    ranking key is the ROUNDED probability + token so both engines break
    near-ties identically.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    tk = T.tokens("text")
    n = F.size("tk")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("tk", 1, n - 1),
            F.slice("tk", 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    base = docs.select(tk.alias("tk")).select(F.explode(bigrams).alias("bg"))
    bg_counts = (
        base.select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= BIGRAM_MIN_COUNT)
    )
    ctx_counts = (
        base.select(F.col("bg.w1").alias("cw"))
        .groupBy("cw")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    prob = N.dround(F.col("c12").cast("double") / F.col("c1"), 6)
    scored = bg_counts.join(ctx_counts, F.col("w1") == F.col("cw")).select(
        "w1", "w2", "c12", "c1", prob.alias("p_cond")
    )
    w = Window.partitionBy("w1").orderBy(F.desc("p_cond"), F.asc("w2"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BIGRAM_TOP_K)
        .orderBy("w1", "rank")
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("hash", "join", "stream")


def doc_bm25_search(spark, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring of the corpus against a fixed term query —
    the lexical-retrieval ranking a data pipeline runs for search-style
    corpus triage (Robertson/Sparck-Jones BM25 with the Lucene
    ``ln(1 + (N-df+0.5)/(df+0.5))`` idf, k1=1.2, b=0.75).

    Scale shape: ONE corpus scan. Per-doc term frequencies and length
    are array built-ins on the tokenized column; the corpus-level stats
    the formula needs (N, Σdl, per-term df) collapse into a single
    1-row aggregate that is broadcast back — no token explode, no
    vocabulary shuffle, because the query term set is a small constant.
    Scoring is then embarrassingly parallel; the only shuffle is the
    stats aggregate's single-row exchange.

    Determinism: every double (idf, length norm, per-term partial) is
    the same expression tree over exact integers in both engines —
    constants are embedded via ``repr`` so Spark and DuckDB parse the
    identical literals; the 3 per-term partials sum in fixed left-to-
    right order. Scores round to 4dp only at the output edge.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    base = docs.select("doc_id", T.tokens("text").alias("tk")).withColumn(
        "dl", F.size("tk")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.array_contains("tk", t).cast("long")).alias(f"df_{t}")
            for t in BM25_QUERY_TERMS
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    dl = F.col("dl").cast("double")

    def term_partial(t: str):
        tf = F.col(f"tf_{t}").cast("double")
        df = F.col(f"df_{t}").cast("double")
        idf = F.log(
            (F.col("n_docs").cast("double") - df + 0.5) / (df + 0.5) + 1.0
        )
        denom = tf + BM25_K1 * ((1.0 - BM25_B) + BM25_B * (dl / avgdl))
        return idf * (tf * (BM25_K1 + 1.0)) / denom

    def tf_col(t: str):
        # single-arg lambda: a 2-arg lambda would make F.filter pass the
        # element INDEX as the second argument
        return F.size(F.filter("tk", lambda x: x == t)).alias(f"tf_{t}")

    scored = base.select(
        "doc_id",
        "dl",
        *[tf_col(t) for t in BM25_QUERY_TERMS],
    ).crossJoin(F.broadcast(stats))
    score = term_partial(BM25_QUERY_TERMS[0])
    for t in BM25_QUERY_TERMS[1:]:
        score = score + term_partial(t)
    any_hit = sum(F.col(f"tf_{t}") for t in BM25_QUERY_TERMS) > 0
    return (
        scored.where(any_hit)
        .select(
            "doc_id",
            F.col("dl").alias("n_tokens"),
            *[F.col(f"tf_{t}") for t in BM25_QUERY_TERMS],
            N.dround(score, 4).alias("bm25"),
        )
        .orderBy("doc_id")
    )


CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 1024  # buckets per row: eps ~ e/width ≈ 0.27% of total mass
CMS_PROBE_TOP_K = 20


def corpus_cms_heavy_hitters(spark, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the corpus's top tokens,
    with the sketch built AS A RELATION: cells (row_i, bucket, cell_n)
    are an ordinary aggregate, so the sketch is mergeable by construction
    (union + re-aggregate = CMS merge), partial-aggregates map-side, and
    never lives on the driver. Probing is a join, not a collect.

    The estimate for token t is min_i cells[i][h_i(t)] ≥ exact count —
    the classic CMS overestimate-only guarantee, reported side-by-side
    with the exact count so the error is self-auditing (pytest asserts
    the bound; the driver hash-checks the values).

    Scale shape: vocab-sized aggregate (sublinear in corpus), a bounded
    DEPTH-way explode over the vocab, a DEPTH×WIDTH-row cell table, and
    a broadcast probe of the top-k tokens. Buckets use the engine-neutral
    md5 bucket function, so DuckDB reproduces the sketch bit-for-bit.
    """
    from aws_saas_etl_spark.operators.sampling import hash_bucket

    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    counts = (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows_arr = F.array([F.lit(i) for i in range(CMS_DEPTH)])
    seeded = counts.select(
        "token", "c", F.explode(rows_arr).alias("row_i")
    ).withColumn(
        "bucket",
        hash_bucket(
            F.concat_ws(":", F.col("row_i").cast("string"), F.col("token")),
            CMS_WIDTH,
        ),
    )
    cells = seeded.groupBy("row_i", "bucket").agg(F.sum("c").alias("cell_n"))
    topk = counts.orderBy(F.desc("c"), F.asc("token")).limit(CMS_PROBE_TOP_K)
    probes = topk.select(
        "token", "c", F.explode(rows_arr).alias("row_i")
    ).withColumn(
        "bucket",
        hash_bucket(
            F.concat_ws(":", F.col("row_i").cast("string"), F.col("token")),
            CMS_WIDTH,
        ),
    )
    return (
        probes.join(cells, ["row_i", "bucket"])
        .groupBy("token", "c")
        .agg(F.min("cell_n").alias("cms_estimate"))
        .select(
            "token",
            F.col("c").alias("exact_n"),
            "cms_estimate",
            (F.col("cms_estimate") - F.col("c")).alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), F.asc("token"))
    )


COMMON_SHINGLE_DF = 5  # a shingle in >= this many docs is "corpus-common"


def doc_common_ngram_ratio(spark, sf_dir: str) -> DataFrame:
    """Cross-document n-gram novelty: per document, the fraction of its
    distinct word-3-gram shingles that are corpus-common (document
    frequency >= COMMON_SHINGLE_DF). High ratio = boilerplate/template
    text; the cross-doc complement of the WITHIN-doc repetition metrics
    (doc_repetition_metrics' Gopher-style scores).

    Scale shape: shingles are hashed to int64 before the explode, so the
    doc-frequency aggregate and the back-join shuffle 8-byte keys, never
    strings. Two shuffles total (df groupBy + per-doc re-aggregate); the
    (shingle, df) side joins on the hash. The oracle computes the same
    ratio on string shingles — equal modulo 2^-64 hash collisions, the
    same equivalence ngram_jaccard_pairs relies on.
    """
    from aws_saas_etl_spark.operators.dedup import hashed_shingles

    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    sh = docs.select(
        "doc_id",
        F.explode(hashed_shingles("text")).alias("fp"),
    )
    df_counts = sh.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df_counts, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") >= COMMON_SHINGLE_DF).cast("long")).alias(
                "n_common"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_common",
            F.round(F.col("n_common").cast("double") / F.col("n_shingles"), 6).alias(
                "common_ratio"
            ),
        )
        .orderBy("doc_id")
    )


def doc_char_entropy(spark, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the letter distribution — the
    gibberish/compression-artifact signal (natural language sits ~4.1
    bits/letter; keyboard mash and base64 blobs deviate sharply).

    Shape: explode letters → (doc, letter) counts → per-doc entropy, two
    shuffles both keyed by doc_id (the second re-uses the first's
    partitioning). Letters only ([a-z] of the lowercased text) so both
    engines tokenize identically.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    letters = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]', 0)")
        ).alias("ch"),
    )
    counts = letters.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.sum("c").over(tot)
    return (
        counts.select("doc_id", (-p * F.log2(p)).alias("term"), F.col("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_letters"),
            F.count(F.lit(1)).alias("n_distinct_letters"),
            F.round(F.sum("term"), 6).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


ZIPF_TOP_N = 1000  # rank cutoff for the log-log regression


def corpus_zipf_fit(spark, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token distribution: OLS slope of
    log(freq) on log(rank) for the top-N tokens — natural corpora slope
    ≈ -1; synthetic/templated corpora deviate. Demonstrates regression
    as pure aggregates (no ML library): slope = cov(x,y)/var(x) over the
    ranked frequency table, one row out.

    Shape: token explode → corpus freq aggregate → global rank window
    over the top-N slice (tiny) → one scalar aggregate.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("text").isNotNull()
    )
    freq = (
        docs.select(F.explode(T.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    ranked = freq.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= ZIPF_TOP_N
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    # terms cast to DECIMAL before summing (order-independent accumulation,
    # functions/num.py) so the 6-decimal slope never flaps across
    # partitionings or engines
    dec = "decimal(22,12)"
    stats = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
    )
    n = F.col("n").cast("double")
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / n
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return stats.select(
        F.col("n").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


TFIDF_NN_QUERY_DOCS = 10  # query set: doc_id < 10 (mirrors knn_bruteforce)
TFIDF_NN_TOP_K = 5


def doc_tfidf_neighbors(spark, sf_dir: str) -> DataFrame:
    """Sparse lexical top-k document similarity via an INVERTED-INDEX join
    — the IR-classic complement of the dense-embedding ANN path: tf-idf
    weight per (doc, token), cosine computed by joining postings on the
    token and summing weight products, never materializing doc×doc.

    Scale shape: the corpus-side postings list shuffles on token once;
    the query side (10 docs' postings) broadcasts. Candidate pairs exist
    ONLY where a token is shared — the sparse analog of LSH bucketing —
    and common-token fan-out is bounded by idf (a token in every doc has
    idf ~ 0 and can be pruned; here df < half the corpus).

    All weight sums accumulate in DECIMAL so cosine is order-independent
    (double accumulation across shuffle partitions would flip last digits
    between runs/engines).
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    n_docs_df = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(df_counts, "tok")
        .crossJoin(F.broadcast(n_docs_df))
        # prune near-stopwords (df above 90% of the corpus): they carry
        # idf ≈ 0 but dominate the postings join fan-out. (A half-corpus
        # cutoff — the classic IR default — empties the small-vocabulary
        # fixture corpus entirely at sf≥0.1; 90% keeps the demo non-empty
        # while still bounding the hottest tokens.)
        .where(F.col("df") * 10 < F.col("n_docs") * 9)
        .select(
            "doc_id",
            "tok",
            # DECIMAL(18,6): product of two fits DECIMAL(37,12) in BOTH
            # engines without precision-cap divergence (22,6 would need 45)
            (
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
        # barrier: the weighted postings feed THREE consumers (norms, the
        # query slice, the dot-product join). A repartition-exchange
        # barrier does NOT get reused here — the broadcast of the query
        # slice runs as a separate job and re-executes the whole
        # tokenize→tf→df subtree (measured: 0 ReusedExchange even in the
        # final adaptive plan; 12 parquet scans / 48 exchanges pre-AQE).
        # localCheckpoint materializes the postings ONCE and truncates the
        # lineage for all three consumers: 2.85s → 2.14s best-of-3 at
        # sf0.1. At cluster scale this is the "materialize the shared
        # sub-result" pattern (cache/checkpoint), sized |postings| ≪
        # |docs×docs|.
        .localCheckpoint()
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast("decimal(38,12)")).cast("double")).alias("nrm")
    )
    q = w.where(F.col("doc_id") < TFIDF_NN_QUERY_DOCS).select(
        F.col("doc_id").alias("q_doc"), "tok", F.col("w").alias("wq")
    )
    dots = (
        w.join(F.broadcast(q), "tok")
        .where(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", F.col("doc_id").alias("c_doc"))
        .agg(F.sum((F.col("wq") * F.col("w")).cast("decimal(38,12)")).alias("dot"))
    )
    sims = (
        dots.join(norms.select(F.col("doc_id").alias("q_doc"), F.col("nrm").alias("qn")), "q_doc")
        .join(norms.select(F.col("doc_id").alias("c_doc"), F.col("nrm").alias("cn")), "c_doc")
        .select(
            "q_doc",
            "c_doc",
            F.round(F.col("dot").cast("double") / (F.col("qn") * F.col("cn")), 6).alias(
                "cos_sim"
            ),
        )
    )
    rk = Window.partitionBy("q_doc").orderBy(F.desc("cos_sim"), F.asc("c_doc"))
    return (
        sims.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= TFIDF_NN_TOP_K)
        .orderBy("q_doc", "rank")
    )


def doc_sentence_stats(spark, sf_dir: str) -> DataFrame:
    """Sentence segmentation statistics: sentence count, mean sentence
    length in tokens, and the long/short-sentence shares quality filters
    threshold on (wall-of-text and staccato detection). Segmentation is
    the deterministic regex split on [.!?]+ runs — engine-neutral, so the
    oracle reproduces it exactly. Map-only except the final explode-free
    per-doc math (higher-order functions over the split array)."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), "[.!?]+"),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    tok_counts = F.transform(
        sents, lambda s: F.size(F.filter(F.split(s, "\\s+"), lambda t: t != ""))
    )
    n_sents = F.size(sents)
    total_toks = F.aggregate(tok_counts, F.lit(0), lambda a, x: a + x)
    long_sents = F.size(F.filter(tok_counts, lambda c: c > 30))
    short_sents = F.size(F.filter(tok_counts, lambda c: c < 4))
    return docs.select(
        "doc_id",
        n_sents.alias("n_sentences"),
        F.round(
            F.when(n_sents > 0, total_toks.cast("double") / n_sents).otherwise(0.0), 6
        ).alias("mean_sentence_tokens"),
        F.round(
            F.when(n_sents > 0, long_sents.cast("double") / n_sents).otherwise(0.0), 6
        ).alias("long_sentence_share"),
        F.round(
            F.when(n_sents > 0, short_sents.cast("double") / n_sents).otherwise(0.0), 6
        ).alias("short_sentence_share"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Python UDTF (Spark 4 `@udtf`): sliding-window token chunking — the
# context-packing table function of an LLM training pipeline
# --------------------------------------------------------------------------

CHUNK_MAX_TOKENS = 64
CHUNK_OVERLAP = 16


def _chunk_spans_udtf():
    """Arrow-optimized Python UDTF emitting one row per training chunk of a
    token array: chunks of ≤ CHUNK_MAX_TOKENS tokens, consecutive chunks
    overlapping by CHUNK_OVERLAP (stride = max - overlap), the standard
    sliding-window packing for long-document pretraining.

    Built lazily (the decorator captures a SparkSession-independent
    function handle, but constructing it at import time would make module
    import depend on the pyspark JVM classpath being warm).

    Why a UDTF and not explode(): the chunk count per document is
    data-dependent (ceil-div of token length by stride) and each output
    row carries derived state (index, span, joined text) — the exact shape
    ``pyspark.sql.functions.udtf`` exists for, and the one Python
    execution lane (scalar pandas_udf / applyInPandas / mapInPandas /
    applyInPandasWithState are all covered elsewhere) the engine had not
    yet exercised. ``useArrow=True`` keeps the transfer Arrow-batched.
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "chunk_idx INT, start_token INT, n_tokens INT, chunk_text STRING"
        ),
        useArrow=True,
    )
    class ChunkSpans:
        def eval(self, toks, max_tokens: int, overlap: int):
            if not toks:
                return
            stride = max_tokens - overlap
            last_start = max(len(toks) - overlap - 1, 0)
            for idx, start in enumerate(range(0, last_start + 1, stride)):
                chunk = toks[start : start + max_tokens]
                yield idx, start, len(chunk), " ".join(chunk)

    return ChunkSpans


def doc_chunk_spans(spark, sf_dir: str) -> DataFrame:
    """Chunk every document with the UDTF above via a LATERAL join, then
    reduce per document to chunk count, token coverage, and a
    content checksum (sum of 32-bit md5 prefixes over a stable rendering
    of each chunk row) — value-hash-provable because the chunk starts are
    closed-form (``range(0, max(L-overlap-1,0)+1, stride)``), which the
    DuckDB twin reproduces with ``range()`` + ``list_slice``.

    Scale shape: the UDTF stage is a map-only Arrow-batched expansion
    (no shuffle); the only shuffle is the final per-doc aggregate, and
    chunk_text never leaves the executor (the checksum collapses it
    before the exchange).
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    spark.udtf.register("chunk_spans", _chunk_spans_udtf())
    docs.select("doc_id", T.tokens("text").alias("tk")).createOrReplaceTempView(
        "_chunk_docs"
    )
    chunks = spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx, c.start_token, c.n_tokens, c.chunk_text
        FROM _chunk_docs d,
             LATERAL chunk_spans(d.tk, {CHUNK_MAX_TOKENS}, {CHUNK_OVERLAP}) c
        """
    )
    row_key = F.concat_ws(
        "|",
        F.col("chunk_idx").cast("string"),
        F.col("start_token").cast("string"),
        F.col("chunk_text"),
    )
    checksum = F.conv(F.substring(F.md5(row_key), 1, 8), 16, 10).cast("bigint")
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").cast("bigint").alias("total_chunk_tokens"),
            F.max("start_token").alias("last_chunk_start"),
            F.sum(checksum).cast("bigint").alias("chunk_checksum"),
        )
        .orderBy("doc_id")
    )


SUBSTR_DUP_K = 8  # token k-gram width for cross-document substring dedup

#: Session memo of the per-doc crossdoc-duplication table (r14, VERDICT
#: r13 #3): the funnel's span rung re-ran the FULL gram chain (corpus
#: gram explode → dup groupBy → flag join → coverage window → per-doc
#: agg) beside the standalone query — after the r13 explode fix this
#: branch was the funnel's dominant cost. The coverage table is the
#: substring-dedup pass's per-doc accounting artifact (the thing a
#: curation run publishes once and reads from both the per-doc metric
#: and the funnel row), same regime as curation's _full_manifest:
#: computed once per session, checkpointed (corpus rows × 5 narrow
#: columns), consumed by the registered query and the funnel alike.
from aws_saas_etl_spark.memo import MemoDict, rank_cut

_SPAN_CACHE = MemoDict("crossdoc_span")


def _crossdoc_span_cached(spark, sf_dir: str) -> DataFrame:
    return _SPAN_CACHE.get_or_build(
        spark, sf_dir, SUBSTR_DUP_K,
        build=lambda: _crossdoc_span_table(spark, sf_dir),
    )


def doc_crossdoc_duplication(spark, sf_dir: str) -> DataFrame:
    """Cross-document SUBSTRING duplication — the dedup flavor document-
    level near-dup misses (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL'22): two long documents can be globally
    dissimilar yet share a verbatim boilerplate paragraph, and those
    repeated SPANS are what a substring-level pass removes. Per document:
    how many token ``SUBSTR_DUP_K``-grams also occur in ANOTHER document,
    and what fraction of the doc's tokens those shared spans cover.

    The exact-span coverage is computed without interval materialization:
    duplicated k-gram starts are per-doc sorted rows, and a start at
    position i covers ``min(k, next_dup_start − i)`` NEW tokens (its k
    tokens minus the overlap the next duplicated start re-covers), so
    one LEAD window + a sum gives the exact merged-interval length —
    the gaps-and-islands trick applied to span coverage.

    Scale shape: k-gram hashes (xxhash64 of the joined gram — the
    8-byte-before-shuffle rule; the oracle groups the raw gram strings,
    same engine-tolerance as the hashed-shingle Jaccard path) shuffle
    once for the distinct-doc count, duplicated hashes join back
    (shuffle on the hash), and the coverage window shuffles on doc_id.
    Nothing is ever doc×doc; the gram space is corpus-linear. At 100 TB
    the duplicated-gram side is far smaller than the corpus (HAVING
    count ≥ 2 is selective) so AQE turns the flag join into a broadcast.

    r14: the per-doc table comes from the session memo
    (``_crossdoc_span_cached``) shared with the dedup funnel's span rung.
    """
    return _crossdoc_span_cached(spark, sf_dir).orderBy("doc_id")


def _crossdoc_span_table(spark, sf_dir: str) -> DataFrame:
    """The body of :func:`doc_crossdoc_duplication` (unsorted) — built
    once per session by ``_crossdoc_span_cached``."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    k = SUBSTR_DUP_K
    base = docs.select(
        "doc_id", T.tokens("text").alias("tk")
    ).withColumn("n", F.size("tk"))
    starts = F.when(
        F.col("n") >= k,
        F.sequence(F.lit(1), (F.col("n") - k + 1).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "doc_id",
        "n",
        F.explode(starts).alias("i"),
        "tk",
    ).select(
        "doc_id",
        "n",
        "i",
        F.xxhash64(F.concat_ws(" ", F.slice("tk", F.col("i"), F.lit(k)))).alias("g"),
    )
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    flagged = grams.join(dup, "g")
    w = Window.partitionBy("doc_id").orderBy("i")
    covered = F.least(
        F.lit(k), F.coalesce(F.lead("i").over(w) - F.col("i"), F.lit(k))
    )
    per_doc = (
        flagged.select("doc_id", "i", covered.alias("cov"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_kgrams"),
            F.sum("cov").alias("dup_tokens"),
        )
    )
    return (
        base.select("doc_id", F.col("n").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .na.fill({"n_dup_kgrams": 0, "dup_tokens": 0})
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_kgrams",
            "dup_tokens",
            N.dround(
                F.col("dup_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
            ).alias("dup_frac"),
        )
    )


def doc_duplicate_span_removal(spark, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN REMOVAL — the rewrite half of exact
    substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL'22 §4.2): ``doc_crossdoc_duplication``
    MEASURES shared-span coverage; this operator actually CUTS those
    spans and emits the cleaned corpus, per doc: the rewritten text
    (kept tokens re-joined), kept/removed token counts.

    A token is removed iff it lies inside any ``SUBSTR_DUP_K``-gram that
    also occurs in ANOTHER document. Covered positions are materialized
    DISJOINTLY — each duplicated start ``i`` contributes exactly
    ``least(k, next_dup_start − i)`` positions via the same LEAD trick
    the coverage metric uses — so the explode is ≤ n_tokens rows per doc
    (never n_starts × k), and no distinct is needed before the removal
    anti-join.

    Scale shape: identical to the coverage metric (gram-hash groupBy +
    join-back, both corpus-linear; HAVING count ≥ 2 keeps the flag side
    small → AQE broadcast) plus one anti-join and one rebuild aggregate,
    BOTH partitioned by doc_id — at 100 TB the rewrite is two extra
    narrow-key shuffles over the token stream, nothing doc×doc. The
    rebuild keeps per-doc token arrays (the same memory envelope the
    tokenizer already created); docs whose every token is removed
    survive via the left join with an empty ``clean_text``.
    
    Measured (r10): 3.35 s at sf0.1 (bench, cold); α 0.23 over the
    1×→8× scale probe — in the control band, ≈ the coverage metric's
    gram shapes (SCALE.md).
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    k = SUBSTR_DUP_K
    base = docs.select("doc_id", T.tokens("text").alias("tk")).withColumn(
        "n", F.size("tk")
    )
    starts = F.when(
        F.col("n") >= k,
        F.sequence(F.lit(1), (F.col("n") - k + 1).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select("doc_id", F.explode(starts).alias("i"), "tk").select(
        "doc_id",
        "i",
        F.xxhash64(F.concat_ws(" ", F.slice("tk", F.col("i"), F.lit(k)))).alias("g"),
    )
    return _span_removal_serve(base, grams)


def _span_removal_serve(base: DataFrame, grams: DataFrame) -> DataFrame:
    """The removal tail over any (doc_id, tk, n) token frame and
    (doc_id, i, g) gram-position index — shared by the in-plan path and
    the stored-index lifecycle query."""
    k = SUBSTR_DUP_K
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    cov = F.least(F.lit(k), F.coalesce(F.lead("i").over(w) - F.col("i"), F.lit(k)))
    covered = (
        grams.join(dup, "g")
        .select("doc_id", "i", cov.alias("cov"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + F.col("cov") - 1)).alias("p"),
        )
    )
    tokpos = base.select(
        "doc_id", F.posexplode("tk").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    kept = tokpos.join(covered, ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))), lambda x: x.tok
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", F.col("n").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("bigint").alias("kept_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("kept_tokens"), F.lit(0)))
            .cast("bigint")
            .alias("removed_tokens"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def span_gram_index_incremental(spark, sf_dir: str) -> DataFrame:
    """INCREMENTAL MAINTENANCE of the duplicated-span GRAM-POSITION INDEX
    — exact substring dedup's stored artifact, maintained like an
    inverted index (the Lee et al. suffix-array analog as a per-row
    table): the historical 90% of documents' (doc_id, position,
    gram-hash) rows are the STORED artifact (manifest sink, read back);
    arriving documents tokenize into delta gram rows (one pass over the
    ARRIVALS, never the corpus) and UNION in; the merged index drives
    the IDENTICAL ``_span_removal_serve`` rewrite. Gram rows are PER-ROW
    (no trained state — the postings/signature argument), so maintenance
    is EXACT and the hash gate is the plain rewrite twin.

    The semantic subtlety maintenance must preserve: "duplicated" means
    ≥ 2 DISTINCT DOCS over the MERGED corpus — an arrival can turn a
    historical singleton gram into a duplicate retroactively, which is
    why the serve recomputes the nd ≥ 2 aggregate over the merged index
    (a groupBy on the gram hash — narrow rows) instead of trusting a
    stored dup-flag.
    
    Measured (r10): 5.9 s at sf0.1 (best-of-2, noop sink) incl. the
    base index write.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    k = SUBSTR_DUP_K
    base = docs.select("doc_id", T.tokens("text").alias("tk")).withColumn(
        "n", F.size("tk")
    )
    starts = F.when(
        F.col("n") >= k,
        F.sequence(F.lit(1), (F.col("n") - k + 1).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select("doc_id", F.explode(starts).alias("i"), "tk").select(
        "doc_id",
        "i",
        F.xxhash64(F.concat_ws(" ", F.slice("tk", F.col("i"), F.lit(k)))).alias("g"),
    )

    # base/delta boundary over the doc set — session-cached sizing scalar
    # (r14, VERDICT r13 #4; one count + one sort/limit job per session,
    # not per construction)
    cut = rank_cut(spark, sf_dir, "span_gram_cut", base.select("doc_id"))
    merged = store_base_with_delta(grams, "span_gram_index", sf_dir, "doc_id", cut)
    return _span_removal_serve(base, merged)


# Constructing this query's DataFrame EXECUTES the base gram-index build
# and a real manifest-sink write — the storage leg it exists to prove.
span_gram_index_incremental.side_effecting = True


BPE_MERGES = 3  # learned merge rules (unrolled on both engine sides)


def corpus_bpe_merges(spark, sf_dir: str, n_merges: int = BPE_MERGES) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules over the corpus —
    tokenizer TRAINING, the step upstream of ``doc_bpe_token_counts``'s
    pre-tokenizer and ``corpus_vocabulary``'s frequency table (Sennrich et
    al., "Neural Machine Translation of Rare Words with Subword Units",
    ACL'16). Classic word-frequency BPE: symbols start as characters,
    each round counts adjacent symbol pairs weighted by word frequency
    and merges the most frequent pair (ties broken lexicographically).

    Merge application is defined as TWO left-to-right non-overlapping
    literal replaces of `` a b `` in the space-padded symbol string (the
    second pass catches occurrences whose boundary space the first pass
    consumed). Both engines implement resume-after-replacement scanning
    identically, so the procedure is engine-exact; on symbol runs it can
    differ from strict greedy BPE in WHICH of equal-count overlapping
    occurrences merge (e.g. ``l l l l l`` → ``ll l ll`` vs greedy
    ``ll ll l``) — an accepted tie-variant: BPE implementations already
    disagree on intra-run tie handling, and the learned RULES (the
    artifact) are identical whenever pair counts are, which the output
    hash proves.

    Scale shape: the corpus is touched ONCE (the explode→groupBy that
    ``corpus_vocabulary`` already uses); every iteration runs over the
    VOCAB table (distinct tokens — sub-linear in corpus size, bounded by
    the language), localCheckpoint'ed so the three rounds don't re-run
    the corpus aggregate. Each round is one map-side-combined pair count
    + a TakeOrdered(1) + a 1-row broadcast join — model-size work, like
    the Lloyd iterations in ``ivf_fit_cells``. Output: ``n_merges`` rows.
    Not memoized: like ``knn_bruteforce``, it is the definition of the
    merges, so it always relearns them (``_BPE_CACHE`` serves the rest).
    
    Measured (r10): 1.95 s at sf0.1 (bench, cold); α 0.08 at 8× — near
    flat even with the probe's ~linear vocab growth (SCALE.md).
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return bpe_merges(docs, n_merges)


def bpe_merges(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """The merge-learning core over any (text) frame — split out so tests
    can pin the learned rules on a constructed corpus with hand-computable
    pair counts (the hug/pug/pun/bun/hugs classic)."""
    v = _bpe_vocab(docs, with_token=False)
    best_rows = []
    for rank in range(1, n_merges + 1):
        best = _best_pair(v)
        best_rows.append(
            best.select(
                F.lit(rank).alias("merge_rank"),
                F.split("pair", " ")[0].alias("left_sym"),
                F.split("pair", " ")[1].alias("right_sym"),
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                F.col("freq").cast("bigint").alias("pair_freq"),
            )
        )
        if rank < n_merges:
            v = _apply_merge(v, best.select("pair"), keep=["freq"])

    out = best_rows[0]
    for b in best_rows[1:]:
        out = out.unionByName(b)
    return out.orderBy("merge_rank")


def _bpe_vocab(docs: DataFrame, with_token: bool) -> DataFrame:
    """(token?, s, freq): the word-frequency table with each token spread
    to its space-separated character symbols — the frame every BPE round
    iterates on. localCheckpoint'ed: the trainer re-reads it once per
    round and the tokenizer joins the corpus back onto it."""
    cols = (["token"] if with_token else []) + [
        F.trim(F.regexp_replace("token", "(.)", "$1 ")).alias("s"),
        "freq",
    ]
    return (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(*cols)
        .localCheckpoint()
    )


def _best_pair(v: DataFrame) -> DataFrame:
    """1-row (pair, freq): the most frequent adjacent symbol pair,
    frequency-weighted, ties broken lexicographically."""
    arr = F.split("s", " ")
    prs = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda k: F.concat(
                F.element_at(arr, k), F.lit(" "), F.element_at(arr, k + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        v.select("freq", F.explode(prs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("freq"))
    )
    return counts.orderBy(F.desc("freq"), F.asc("pair")).limit(1)


def _apply_merge(v: DataFrame, pair_df: DataFrame, keep: list[str]) -> DataFrame:
    """Rewrite every symbol string under ONE merge rule (1-row broadcast
    join on a constant key; the double space-padded literal replace both
    engines scan identically — see the corpus_bpe_merges docstring)."""
    padded = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
    target = F.concat(F.lit(" "), F.col("pair"), F.lit(" "))
    repl = F.concat(
        F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("")), F.lit(" ")
    )
    return (
        v.withColumn("_k", F.lit(1))
        .join(F.broadcast(pair_df.withColumn("_k", F.lit(1))), "_k")
        .select(
            *keep,
            F.trim(F.replace(F.replace(padded, target, repl), target, repl)).alias(
                "s"
            ),
        )
    )


def corpus_bpe_tokenize(spark, sf_dir: str, n_merges: int = BPE_MERGES) -> DataFrame:
    """APPLY the learned BPE merges back to the corpus — the tokenize half
    of the train→apply pair (``corpus_bpe_merges`` learns the rules; this
    measures what they buy): per document, the symbol count before any
    merge (= character count of its alphabetic tokens) and after the
    ``n_merges`` learned rules, plus the compression ratio a tokenizer
    budget planner thresholds on.

    Scale shape: merge application happens on the VOCAB table (the same
    three 1-row broadcast joins the trainer chains — model-size work),
    never per corpus token; documents then join token→final-symbol-count
    on the bounded vocab (broadcast at any corpus size: distinct tokens
    grow sub-linearly) and aggregate per doc. The corpus is touched
    twice total (vocab build + scoring join) regardless of n_merges.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    v = _bpe_vocab(docs, with_token=True)
    for rank in range(1, n_merges + 1):
        v = _apply_merge(v, _best_pair(v).select("pair"), keep=["token", "freq"])
    return _bpe_doc_counts(tok, v)


def _bpe_doc_counts(tok: DataFrame, v: DataFrame) -> DataFrame:
    """Per-doc char vs BPE symbol counts from a fully-merged vocab."""
    per_token = v.select(
        "token",
        F.length("token").alias("n_chars"),
        F.size(F.split("s", " ")).alias("n_syms"),
    )
    return (
        tok.join(per_token, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("n_chars").cast("bigint").alias("char_symbols"),
            F.sum("n_syms").cast("bigint").alias("bpe_symbols"),
        )
        .select(
            "doc_id",
            "char_symbols",
            "bpe_symbols",
            N.dround(F.col("bpe_symbols") / F.col("char_symbols"), 6).alias(
                "compression"
            ),
        )
        .orderBy("doc_id")
    )


def bpe_merges_store_roundtrip(
    spark, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """The PERSISTED tokenizer artifact: the learned merge table is
    WRITTEN through the exactly-once manifest sink, READ BACK, and the
    corpus is tokenized by the STORED rules (rank-ordered 1-row broadcast
    applications — the serve plan never re-learns anything). Hashes
    against the SAME per-doc twin as ``corpus_bpe_tokenize``: a lossless
    write → read → apply proves the stored rules are the model, the
    property that lets a 100 TB corpus be tokenized by executors that
    never saw the training aggregate (exactly the stored-codebook
    argument of ``ann_pq_store_roundtrip``)."""
    docs = _bpe_docs(spark, sf_dir)
    stored = store_and_read_back(
        _learned_bpe_rules(spark, sf_dir, n_merges), "bpe_merges", sf_dir
    )

    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    v = _bpe_vocab(docs, with_token=True)
    for rank in range(1, n_merges + 1):
        rule = stored.where(F.col("merge_rank") == rank).select(
            F.concat("left_sym", F.lit(" "), "right_sym").alias("pair")
        )
        v = _apply_merge(v, rule, keep=["token", "freq"])
    return _bpe_doc_counts(tok, v)


# Constructing this query's DataFrame EXECUTES the merge learning and a
# real manifest-sink write — the storage leg it exists to prove.
bpe_merges_store_roundtrip.side_effecting = True


#: Session memo of learned BPE merge tables, one slot per ``n_merges``
#: and training slice (the full corpus, or the staleness report's
#: ``("base", cut)`` slice): a tokenizer's merge table is a stored
#: artifact, so the store roundtrip and the staleness report's fresh
#: arm read one learned table.
_BPE_CACHE = MemoDict("bpe_merges")


def _bpe_docs(spark, sf_dir: str) -> DataFrame:
    """The documents every stored-rule BPE query trains on and tokenizes."""
    return ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )


def _learned_bpe_rules(
    spark, sf_dir: str, n_merges: int, cut: int | None = None
) -> DataFrame:
    """The merge rules learned on ``_bpe_docs`` — or, given ``cut``, on
    its ``doc_id <= cut`` base slice (the stale rules, their own slot)."""
    docs = _bpe_docs(spark, sf_dir)
    if cut is not None:
        docs = docs.where(F.col("doc_id") <= F.lit(cut))
    slice_parts = () if cut is None else ("base", cut)
    return _BPE_CACHE.get_or_build(
        spark, sf_dir, n_merges, *slice_parts, build=lambda: bpe_merges(docs, n_merges)
    )


#: The BPE staleness base slice keeps the FIRST HALF of doc_ids (the
#: "tokenizer trained last year" story). Half, not the incremental
#: queries' 90%: measured at sf0.01, removing 10% of docs leaves the
#: top-3 pair ranking identical (drift 0 — a vacuous audit), while the
#: half-corpus fit flips ranks 2-3 ('i n'/'o w' → 's t'/'o r'), so the
#: report exercises BOTH the agreeing and the diverging regime.
BPE_STALE_DENOM = 2


def bpe_staleness_report(
    spark, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """STALE-vs-FRESH audit for the tokenizer artifact — the
    ``logreg_staleness_report`` shape for the second trained non-ANN
    artifact (VERDICT r10 #5), completing the when-to-refit story: merge
    rules learned on the historical BASE SLICE (first half of doc_ids by
    the integer-rank cut every ``*_incremental`` query uses) versus rules
    learned FRESH, both applied to the GROWN (full) corpus, reduced to a
    1-row pricing table:

    - ``n_rules_same_rank`` / ``n_rules_shared``: the rule-set diff
      (rank-exact matches, and matches anywhere in the set — a rule that
      merely moved ranks still tokenizes identically on its own);
    - ``n_docs_drifted`` + the symbol-count sums: what the stale rules
      COST on today's corpus — per-doc BPE symbol counts under stale vs
      fresh rules (the quantity a token-budget planner thresholds on).

    All columns are exact integers, so the gate hashes float-free.

    Scale shape: two merge-learning chains (each iterates on the bounded
    VOCAB table — model-size work, the ``corpus_bpe_merges`` argument),
    ONE shared full-corpus vocab that both rule sets rewrite via 1-row
    broadcast joins, and the corpus touched twice (vocab build + the
    scoring join against the ≤vocab-size per-token symbol counts). Both
    rule frames are stored artifacts (``_BPE_CACHE``, ≤ ``n_merges``
    rows), so rank selection never re-runs a learning chain.

    Measured (r11): 6.24 s at sf0.1 (scale probe, best-of-2 noop),
    α 0.22 at 8× — two near-flat learning chains (``corpus_bpe_merges``
    α 0.03 solo) plus the shared full-vocab scoring join, which carries
    the corpus term (SCALE.md).
    """
    docs = _bpe_docs(spark, sf_dir)

    # base/delta boundary over the doc set — session-cached sizing scalar
    # (r14, VERDICT r13 #4)
    cut = rank_cut(
        spark, sf_dir, "bpe_stale_cut", docs.select("doc_id"), BPE_STALE_DENOM
    )

    fresh_rules = _learned_bpe_rules(spark, sf_dir, n_merges)
    stale_rules = _learned_bpe_rules(spark, sf_dir, n_merges, cut)

    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    v_full = _bpe_vocab(docs, with_token=True)

    def apply_rules(rules: DataFrame) -> DataFrame:
        v = v_full
        for rank in range(1, n_merges + 1):
            rule = rules.where(F.col("merge_rank") == rank).select(
                F.concat("left_sym", F.lit(" "), "right_sym").alias("pair")
            )
            v = _apply_merge(v, rule, keep=["token", "freq"])
        return v

    fresh = _bpe_doc_counts(tok, apply_rules(fresh_rules)).select(
        "doc_id", F.col("bpe_symbols").alias("syms_fresh")
    )
    stale = _bpe_doc_counts(tok, apply_rules(stale_rules)).select(
        "doc_id", F.col("bpe_symbols").alias("syms_stale")
    )
    drift = fresh.join(stale, "doc_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("syms_fresh") != F.col("syms_stale")).cast("bigint")).alias(
            "n_docs_drifted"
        ),
        F.sum("syms_fresh").cast("bigint").alias("sum_syms_fresh"),
        F.sum("syms_stale").cast("bigint").alias("sum_syms_stale"),
    )

    fr = fresh_rules.select(
        F.col("merge_rank").alias("rank_f"), F.col("merged").alias("merged_f")
    )
    st = stale_rules.select(
        F.col("merge_rank").alias("rank_s"), F.col("merged").alias("merged_s")
    )
    rules_diff = fr.join(F.broadcast(st), F.col("merged_f") == F.col("merged_s"), "left").agg(
        F.count(F.lit(1)).alias("n_rules"),
        F.sum(
            (F.col("rank_f") == F.col("rank_s")).cast("bigint")
        ).alias("n_rules_same_rank"),
        F.sum(F.col("rank_s").isNotNull().cast("bigint")).alias("n_rules_shared"),
    )
    return rules_diff.crossJoin(drift).select(
        "n_rules",
        F.coalesce("n_rules_same_rank", F.lit(0)).alias("n_rules_same_rank"),
        "n_rules_shared",
        "n_docs",
        "n_docs_drifted",
        "sum_syms_fresh",
        "sum_syms_stale",
    )


# --- Gopher repetition filters (Rae et al. 2021, Appendix A) ----------------

GOPHER_TOP_NS = (2, 3, 4)  # top-n-gram character-mass rungs
GOPHER_DUP_N = 5  # duplicated-n-gram coverage rung


def doc_gopher_repetition(spark, sf_dir: str) -> DataFrame:
    """The GOPHER repetition-filter family (Rae et al. 2021 "Scaling
    Language Models: ... Gopher", Appendix A — the exact signal set
    FineWeb and DCLM reuse verbatim), per document:

    - ``dup_line_frac`` / ``dup_line_char_frac`` — fraction of LINES
      (newline-split, empties dropped) occurring more than once in the
      document, by count and by character mass;
    - ``dup_para_frac`` / ``dup_para_char_frac`` — the same over
      PARAGRAPHS (blank-line-split);
    - ``top_{2,3,4}gram_char_frac`` — the character mass accounted for
      by the heaviest token n-gram: max over grams of count×len(gram),
      divided by the doc's normalized character length (maximizing the
      MASS rather than the count makes the statistic well-defined under
      frequency ties without a tie-break on gram text);
    - ``dup_5gram_token_frac`` — exact merged-interval token coverage of
      within-document duplicated 5-grams (Gopher's dup-n-gram CHARACTER
      fraction re-expressed in this engine's token model: the same
      gaps-and-islands LEAD-window trick ``doc_crossdoc_duplication``
      uses, so overlapping occurrences are never double-counted).

    High values flag boilerplate / degenerate documents; these are the
    most-used public quality gates after the heuristic length family.
    Regime coverage, honestly: the fixture corpus is single-line (no
    ``\\n``) and its word streams repeat no 5-gram within any document
    (checked at sf0.1), so the line/paragraph/dup-5-gram rungs sit at
    their degenerate values in the driver fixture and are exercised —
    both the duplicated and the clean regime, every cell hand-computed —
    by the engineered multi-line corpus in tests/test_functions.py; the
    top-n-gram rungs get their full exercise from the fixture itself
    (max top-4-gram mass 0.49 at sf0.01).

    Scale shape: three corpus-linear explode→groupBy chains (units,
    n-grams fused across n by an (doc_id, n, gram) key, duplicated
    5-gram starts), each keyed on high-cardinality (doc_id, gram) pairs
    — evenly partitioned word-count plans, nothing doc×doc; per-doc
    rollups reuse the doc_id partitioning, then three left joins restore
    unit-less documents at zero. Gram keys hash to int64 before the
    shuffle (the 8-byte rule; the oracle groups raw gram strings, the
    proven engine-tolerance of the crossdoc chain).

    Measured (r12): 3.36 s at sf0.1 (scale probe, best-of-2 noop),
    α 0.04 at 8× — the data term sits under this box's per-stage floor
    (session control α 0.09); see SCALE.md.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    base = docs.select("doc_id", "text", T.tokens("text").alias("tk"))
    ids = base.select(
        "doc_id",
        F.size("tk").alias("n_tok"),
        F.length(F.concat_ws(" ", "tk")).alias("total_chars"),
    )

    # ---- line / paragraph duplication: ONE exploded unit table
    def _units(sep_re: str, tag: str):
        parts = F.filter(F.split("text", sep_re), lambda s: s != "")
        return F.transform(
            parts, lambda s: F.struct(F.lit(tag).alias("u"), s.alias("s"))
        )

    units = base.select(
        "doc_id",
        F.explode(F.concat(_units("\n", "line"), _units("\n\n", "para"))).alias(
            "x"
        ),
    ).select("doc_id", "x.u", F.xxhash64("x.s").alias("h"), F.length("x.s").alias("ln"))
    ustats = (
        units.groupBy("doc_id", "u", "h", "ln")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id", "u")
        .agg(
            F.sum("cnt").alias("n_units"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
                "dup_units"
            ),
            F.sum(F.col("cnt") * F.col("ln")).alias("chars_all"),
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.col("ln")).otherwise(0)
            ).alias("chars_dup"),
        )
    )

    def _upick(tag: str, col: str):
        return F.max(F.when(F.col("u") == tag, F.col(col)))

    upvt = ustats.groupBy("doc_id").agg(
        _upick("line", "n_units").alias("n_lines"),
        _upick("line", "dup_units").alias("dup_lines"),
        _upick("line", "chars_all").alias("line_chars"),
        _upick("line", "chars_dup").alias("dup_line_chars"),
        _upick("para", "n_units").alias("n_paras"),
        _upick("para", "dup_units").alias("dup_paras"),
        _upick("para", "chars_all").alias("para_chars"),
        _upick("para", "chars_dup").alias("dup_para_chars"),
    )

    # ---- top-n-gram char mass, fused across n by an (doc_id, n) key
    gr = base.select(
        "doc_id",
        "tk",
        F.explode(F.array(*[F.lit(n) for n in GOPHER_TOP_NS])).alias("ng"),
    )
    pos = F.when(
        F.size("tk") >= F.col("ng"),
        F.sequence(F.lit(1), (F.size("tk") - F.col("ng") + 1).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    grams = gr.select("doc_id", "ng", "tk", F.explode(pos).alias("i")).select(
        "doc_id",
        "ng",
        F.concat_ws(" ", F.slice("tk", F.col("i"), F.col("ng"))).alias("g"),
    )
    # the paper's statistic (Rae et al. 2021): char mass of the MOST
    # FREQUENT n-gram — struct-max orders by count first, then mass, so
    # among equally-frequent grams the largest mass wins (deterministic
    # tie-break; ADVICE r12 — maximizing cnt*len over ALL grams instead
    # let a long-but-rarer gram dominate and made the published
    # thresholds systematically stricter than Gopher's)
    top = (
        grams.select("doc_id", "ng", F.xxhash64("g").alias("gh"), F.length("g").alias("gl"))
        .groupBy("doc_id", "ng", "gh", "gl")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id", "ng")
        .agg(
            F.max(
                F.struct(
                    F.col("cnt"), (F.col("cnt") * F.col("gl")).alias("mass")
                )
            ).alias("mx")
        )
        .select("doc_id", "ng", F.col("mx.mass").alias("top_mass"))
    )
    tpvt = top.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("ng") == n, F.col("top_mass"))).alias(f"mass_{n}")
            for n in GOPHER_TOP_NS
        ]
    )

    # ---- duplicated-5-gram exact token coverage (gaps-and-islands)
    k = GOPHER_DUP_N
    starts = F.when(
        F.size("tk") >= k, F.sequence(F.lit(1), (F.size("tk") - k + 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    g5 = base.select("doc_id", "tk", F.explode(starts).alias("i")).select(
        "doc_id",
        "i",
        F.xxhash64(F.concat_ws(" ", F.slice("tk", F.col("i"), F.lit(k)))).alias("g"),
    )
    dup5 = (
        g5.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("doc_id", "g")
    )
    w5 = Window.partitionBy("doc_id").orderBy("i")
    covered = F.least(
        F.lit(k), F.coalesce(F.lead("i").over(w5) - F.col("i"), F.lit(k))
    )
    cov5 = (
        g5.join(dup5, ["doc_id", "g"])
        .select("doc_id", "i", covered.alias("cov"))
        .groupBy("doc_id")
        .agg(F.sum("cov").alias("dup5_tokens"))
    )

    def frac(num, den):
        return N.dround(
            F.coalesce(
                F.col(num).cast("double")
                / F.when(F.col(den) > 0, F.col(den)),
                F.lit(0.0),
            ),
            6,
        )

    return (
        ids.join(upvt, "doc_id", "left")
        .join(tpvt, "doc_id", "left")
        .join(cov5, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            frac("dup_lines", "n_lines").alias("dup_line_frac"),
            frac("dup_line_chars", "line_chars").alias("dup_line_char_frac"),
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            frac("dup_paras", "n_paras").alias("dup_para_frac"),
            frac("dup_para_chars", "para_chars").alias("dup_para_char_frac"),
            *[
                frac(f"mass_{n}", "total_chars").alias(f"top_{n}gram_char_frac")
                for n in GOPHER_TOP_NS
            ],
            frac("dup5_tokens", "n_tok").alias("dup_5gram_token_frac"),
        )
        .orderBy("doc_id")
    )


#: Published Gopher repetition thresholds (Rae et al. 2021, Table A1),
#: in the table's order — verdict is the FIRST failing gate. The top-
#: n-gram rungs now gate the paper's own statistic (mass of the most
#: frequent gram, mass as tie-break — ADVICE r12), so their published
#: cuts apply in the paper's units. The dup-5-gram rung is different in
#: kind: the paper measures the CHARACTER fraction inside duplicated
#: 5-grams, this engine measures exact merged-interval TOKEN coverage,
#: and the two differ systematically when duplicated spans have
#: atypical token lengths — so read its 0.15 as a RE-BASED cut adopted
#: unchanged for the token-coverage variant (a calibration choice, not
#: a published equivalence; ADVICE r12 #2).
GOPHER_THRESHOLDS = (
    ("dup_line_frac", 0.30),
    ("dup_para_frac", 0.30),
    ("dup_line_char_frac", 0.20),
    ("dup_para_char_frac", 0.20),
    ("top_2gram_char_frac", 0.20),
    ("top_3gram_char_frac", 0.18),
    ("top_4gram_char_frac", 0.16),
    ("dup_5gram_token_frac", 0.15),
)


def doc_repetition_filter(spark, sf_dir: str) -> DataFrame:
    """The Gopher repetition signals as a GATE (the VERDICT r11 option:
    feed the family into a filter): per document, 'keep' or the FIRST
    failing rung at the PUBLISHED Gopher thresholds
    (``GOPHER_THRESHOLDS``) — the same first-failing-gate shape as
    ``doc_filter_pipeline``, kept a STANDALONE row (the heuristic gate
    chain feeding the manifest family is hash-proven as shipped;
    re-wiring it would silently shift two dozen downstream artifacts —
    a production pipeline versions its gate set for exactly this
    reason; ``training_manifest_gatesetv2`` is that versioned
    evolution, hash-proven with v1 untouched). Non-vacuous on the
    fixture: with the paper's top-gram statistic (r13) the
    top-{2,3,4}-gram rungs flag 13/34/56 of sf0.01's 500 docs; the
    line/paragraph/5-gram rungs fire on the engineered pytest corpus.

    Scale shape: inherits ``doc_gopher_repetition``'s three word-count
    chains; the verdict itself is one map-side CASE over the rounded
    fractions (identical 6dp values on both engines, so the threshold
    compares cannot straddle an ulp).
    """
    rep = doc_gopher_repetition(spark, sf_dir)
    verdict = F.lit("keep")
    for col, thr in reversed(GOPHER_THRESHOLDS):
        verdict = F.when(F.col(col) > F.lit(thr), F.lit(col)).otherwise(verdict)
    return rep.select("doc_id", verdict.alias("verdict")).orderBy("doc_id")
