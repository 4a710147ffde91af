"""Deduplication operators over the ``documents`` table (SURVEY §2b).

Ladder of dedup strategies, cheapest first:

1. exact        — sha256 of the raw text (hash-groupBy; one shuffle of
                  (hash, id) pairs, never the text itself)
2. normalized   — sha256 of whitespace/punct-normalized lowercase text
3. token-bag    — hash of the sorted distinct token set (order-insensitive
                  near-dup: same words, any order)
4. MinHash+LSH  — banded MinHash over shingles; candidate pairs from
                  band-bucket joins, verified with exact Jaccard.
5. SimHash      — 64-bit weighted fingerprint; near-dups = small Hamming
                  distance within bit-band buckets.

1-3 are pure built-ins and oracle-checkable. 4-5 are the 100 TB scale
path for fuzzy dedup: candidate generation is O(rows·bands) with bounded
bucket joins instead of the O(n²) cross join. Since round 6 they are
oracle-checkable too: the base hash is md5-derived (engine-neutral) and
the permutations are 31-bit affine maps, so DuckDB reproduces the exact
signatures, buckets, pairs, and clusters.

Design note (learned by measurement): tokenization must be computed ONCE
and materialized behind a shuffle barrier before fanning out to the 64
per-permutation hash expressions — otherwise CollapseProject re-inlines
the tokenizer into every permutation expression (64× the work, measured
>100× slower at sf0.1). MinHash does this via ``minhash_signatures``'s
single explode → codegen-md60 → one-groupBy aggregate (shingle array +
all 64 mins behind one exchange; see its docstring for the measured
history). SimHash keeps the explode → hash-per-token → 64-vote aggregate
shape, where the explode is over raw tokens and each vote is a bit test,
not a re-tokenization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_saas_etl_spark.memo import _DERIVED_CUT_CACHE, MemoDict, rank_cut
from aws_saas_etl_spark.catalog import (
    ensure_parallelism,
    load_tables,
    table_row_count,
)
from aws_saas_etl_spark.functions import num as N
from aws_saas_etl_spark.functions import text as T
from aws_saas_etl_spark.sources.custom import store_and_read_back, store_base_with_delta

# MinHash parameters: 16 bands × 4 rows = 64 hashes → candidate threshold
# s ≈ (1/16)^(1/4) ≈ 0.5 Jaccard. Verified pairs filter at JACCARD_MIN.
MINHASH_HASHES = 64
MINHASH_BANDS = 16
MINHASH_ROWS_PER_BAND = MINHASH_HASHES // MINHASH_BANDS
JACCARD_MIN = 0.5

SIMHASH_BITS = 64
SHINGLE_SIZE = 3  # word 3-gram shingles
LENGTH_BUCKET = 10  # token-count blocking width for exact-jaccard pairs

# --- engine-neutral hashing (round 6) ------------------------------------
# The minhash/simhash base hash is md5-derived instead of xxhash64: both
# Spark (conv(substr(md5(x),1,15),16,10)) and DuckDB
# (('0x'||substr(md5(x),1,15))::BIGINT) compute the identical 60-bit
# integer, so the ENTIRE LSH path — permutation mins, band buckets,
# Jaccard verify, downstream connected components — has an exact SQL twin
# and the driver value-hash-checks it (previously rows-only: xxhash64 is
# Spark-internal). Permutations are affine maps over the low 31 bits mod
# the Mersenne prime 2^31-1; every intermediate stays < 2^62, so the
# arithmetic is overflow-free under Spark 4's ANSI mode and identical in
# DuckDB's checked BIGINT math. The a/b constants are md5-seeded in
# Python at import — the oracle generator reads the SAME lists.
_M31 = (1 << 31) - 1


def _perm_const(tag: str, i: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{tag}{i}".encode()).hexdigest()[:8], 16)


MINHASH_A = [(_perm_const("a", i) % (_M31 - 1)) + 1 for i in range(MINHASH_HASHES)]
MINHASH_B = [_perm_const("b", i) % _M31 for i in range(MINHASH_HASHES)]


def md60(col):
    """First 60 bits of md5 as a non-negative bigint — the engine-neutral
    base hash (15 hex chars keep the value positive in a signed int64, so
    plain shifts and comparisons behave identically in Spark and DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingles_sql(col: str, size: int = SHINGLE_SIZE) -> str:
    """Distinct word n-gram shingles of text column ``col`` as SQL text
    (built-ins only): zip each token with its offset-by-`size`
    successors. For i in 0..n-size: concat(tokens[i..i+size-1]). Guarded
    by n >= size — Spark's sequence(0, negative) would DESCEND, not
    return empty."""
    toks = T.tokens_sql(col)
    n = f"size({toks})"
    grams = ", ".join(
        f"element_at({toks}, CAST(i + {j} + 1 AS INT))" for j in range(size)
    )
    return (
        f"CASE WHEN {n} >= {size} THEN array_distinct(transform("
        f"sequence(0, {n} - {size}), i -> concat_ws(' ', {grams}))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def shingles(col: str, size: int = SHINGLE_SIZE) -> Column:
    """``shingles_sql`` as one Column."""
    return F.expr(shingles_sql(col, size))


def hashed_shingles(col: str) -> Column:
    """The xxhash64 of every distinct shingle of ``col``."""
    return F.expr(f"transform({shingles_sql(col)}, s -> xxhash64(s))")


def exact_dedup_groups(spark, sf_dir: str) -> DataFrame:
    """Exact dedup: group by sha256(text); keeper = min(doc_id)."""
    docs = load_tables(spark, sf_dir).documents
    return (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("text_hash")
    )


def source_duplication_matrix(spark, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplication FLOW — which sources copy from
    which: for every source pair, how many sha256 text groups they
    share and how many documents sit on each side; the diagonal rows
    (source_a == source_b) count WITHIN-source duplication (groups with
    ≥ 2 copies inside one source). The corpus-composition diagnostic a
    multi-crawl pipeline reads before choosing dedup order and source
    weights: a mirror site shows up as a hot off-diagonal cell, heavy
    diagonal mass means a crawler re-fetched itself, and the matrix is
    what justifies cross-source (global) rather than per-source dedup.

    Scale shape: one groupBy(sha, source) collapses the corpus to group
    rows (the exact-dedup shuffle); the self-join runs per sha over that
    group's DISTINCT SOURCES (≤ |sources| rows per key, a small bounded
    domain — never per document); the pair aggregate outputs ≤
    |sources|² rows. Nothing doc×doc anywhere.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    return duplication_matrix(docs.select("text", "source"))


def duplication_matrix(corpus: DataFrame) -> DataFrame:
    """The matrix body over any ``(text, source)`` corpus frame — shared
    by the real-corpus query and the planted-duplicates gate so one
    implementation carries both."""
    m = (
        corpus.select(F.sha2(F.col("text"), 256).alias("gkey"), "source")
        .groupBy("gkey", "source")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    return _flow_matrix(m)


def _flow_matrix(m: DataFrame) -> DataFrame:
    """Source-flow matrix over a generic grouping: ``m`` holds one row
    per (gkey, source) with the doc count ``nd`` — gkey is a sha256 text
    group for the exact matrix, a connected-component id for the
    near-dup matrix. Off-diagonal cells count groups shared by a source
    pair; diagonal cells count within-source multi-copy groups."""
    a, b = m.alias("a"), m.alias("b")
    cross = (
        a.join(b, "gkey")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared_groups"),
            F.sum("a.nd").alias("n_docs_a"),
            F.sum("b.nd").alias("n_docs_b"),
        )
    )
    diag = (
        m.where(F.col("nd") >= 2)
        .groupBy(F.col("source").alias("source_a"))
        .agg(
            F.count(F.lit(1)).alias("n_shared_groups"),
            F.sum("nd").alias("n_docs_a"),
        )
        .select(
            "source_a",
            F.col("source_a").alias("source_b"),
            "n_shared_groups",
            "n_docs_a",
            F.col("n_docs_a").alias("n_docs_b"),
        )
    )
    return cross.unionByName(diag).orderBy("source_a", "source_b")


def source_duplication_matrix_planted(spark, sf_dir: str) -> DataFrame:
    """Non-vacuous gate for the duplication matrix (ADVICE r7): the real
    fixtures contain zero exact sha256 duplicate groups, so the plain
    query's oracle row is 0 rows == 0 rows and proves nothing about the
    pair join, the ``a.source < b.source`` dedup, or the diagonal union.
    This variant deterministically PLANTS duplicates before running the
    identical matrix body: every ``doc_id % 10 == 0`` document is
    re-inserted under a ``mirror_<source>`` twin source (one off-diagonal
    cell per original source) and every ``doc_id % 10 == 3`` document is
    re-inserted under its own source (diagonal re-fetch cells) — ~40
    result rows at sf0.01 that the driver value-hashes against the same
    augmentation done in DuckDB SQL. The augmentation is two narrow
    filtered unions; the matrix scale shape is unchanged (groupBy(sha,
    source) then a per-sha self-join over distinct sources only)."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).na.drop("any")
    base = docs.select("text", "source", "doc_id")
    aug = (
        base.select("text", "source")
        .unionAll(
            base.where(F.col("doc_id") % 10 == 0).select(
                "text", F.concat(F.lit("mirror_"), F.col("source")).alias("source")
            )
        )
        .unionAll(base.where(F.col("doc_id") % 10 == 3).select("text", "source"))
    )
    return duplication_matrix(aug)


def source_neardup_matrix(spark, sf_dir: str) -> DataFrame:
    """Cross-source NEAR-duplication flow — the fuzzy counterpart of
    ``source_duplication_matrix``: for every source pair, how many
    content CLUSTERS (prefix-filtered n-gram-Jaccard connected
    components, the shared ``content_clusters`` intermediate) have
    members in both sources, and how many documents sit on each side;
    diagonal rows count clusters with ≥ 2 members inside one source.
    Exact sha duplication catches byte-identical mirroring; THIS matrix
    is what catches paraphrase mills, template farms, and syndicated
    rewrites — and unlike the exact matrix it is non-vacuous on the real
    fixtures (their clusters are built from cross-source near-dups).

    Scale shape: the cluster table is the stored artifact every dedup
    consumer already shares (computed once per session, incrementally
    maintained in production); this adds one groupBy(comp, source) over
    cluster members — cluster-count-sized, not corpus-sized — and the
    per-gkey self-join runs over each cluster's DISTINCT SOURCES only
    (bounded by the source domain). Output ≤ |sources|² rows.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    comp = content_clusters(spark, sf_dir)
    m = (
        comp.join(docs.select(F.col("doc_id").alias("node"), "source"), "node")
        .groupBy(F.col("comp").alias("gkey"), "source")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    return _flow_matrix(m)


def normalized_dedup_groups(spark, sf_dir: str) -> DataFrame:
    """Normalized-hash dedup: case/whitespace/punctuation-insensitive."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return (
        docs.select("doc_id", F.sha2(T.normalized_text("text"), 256).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("norm_hash")
    )


def token_bag_dedup(spark, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup: hash of the sorted distinct token set — catches
    reordered/duplicated-word variants exact hashing misses."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    bag = F.sha2(
        F.concat_ws(" ", F.array_sort(F.array_distinct(T.tokens("text")))), 256
    )
    return (
        docs.select("doc_id", bag.alias("bag_hash"))
        .groupBy("bag_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("bag_hash")
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: sorted array<long>, h0..h63) — the hashed shingle set
    AND the full MinHash signature, produced by ONE aggregate pass.

    Shape (measured, r6): explode shingles → whole-stage-codegen md60
    projection → hashpartitioning(doc_id) → one groupBy computing
    ``array_sort(collect_list(h))`` plus all 64 permutation ``min``s.
    Hashing INSIDE an ``F.transform`` lambda runs on the interpreted
    expression path, where per-call md5/conv overhead cost 14.9 s at
    sf0.1; the exploded codegen projection computes the identical values
    in ~1.1 s, and the shuffle moves 8-byte (doc_id, hash) rows — never
    shingle strings. The single exchange is the sharing point: band
    bucketing and both Jaccard-verify sides all consume this one
    aggregate, so tokenization is paid exactly once. Docs with no
    shingles (< SHINGLE_SIZE tokens) drop out at the explode; they can
    never reach Jaccard ≥ threshold, and excluding them keeps the
    NULL-join semantics of the Spark and DuckDB twins trivially aligned.

    Design note (learned by measurement, round 2): the round-1 shape —
    explode shingles to rows, then one 64-column ``min`` hash-aggregate —
    was algorithmically fine but generated one enormous codegen method
    whose JIT warmup dominated wall-clock (16-29s first runs vs 4s
    steady-state at sf0.1) — each aggregate re-ran a seeded xxhash64.
    The r6 md60/affine rewrite changed the economics: permutation i is
    ``(a_i·(h & (2³¹−1)) + b_i) mod (2³¹−1)`` — three integer ops, so 64
    ``min`` aggregates fused into the SAME groupBy that builds the
    shingle array run entirely inside whole-stage codegen (one modest
    method, no interpreted higher-order transforms, map-side partial
    mins). All values stay < 2⁶² — overflow-free under ANSI — and are
    reproduced digit-for-digit by the DuckDB twin, which reads the same
    MINHASH_A/MINHASH_B constants."""
    ex = docs.select("doc_id", F.explode(shingles("text")).alias("s"))
    h = ex.select("doc_id", md60(F.col("s")).alias("h"))
    return h.groupBy("doc_id").agg(
        F.expr("array_sort(collect_list(h)) AS sh"),
        *[
            F.expr(
                f"min(((h & {_M31}) * {MINHASH_A[i]} + {MINHASH_B[i]}) % {_M31})"
                f" AS h{i}"
            )
            for i in range(MINHASH_HASHES)
        ],
    )


def _candidate_pairs_lsh(sig: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs: equal band-hash in any band.

    Shuffle cost is rows × bands small tuples; the self-join happens per
    band-bucket, so a pathological bucket is handled by AQE skew-join.

    The band hash is only a compact EQUALITY key for the per-band tuple
    of permutation mins — it never reaches the output, so it can stay
    xxhash64 (JVM-fast) while the oracle twin joins on the raw 4-tuples:
    equal tuples ⟺ equal hashes modulo ~2⁻⁶⁴ collisions, the same
    equivalence the hashed-shingle Jaccard already relies on.
    """
    band_hashes = [
        F.xxhash64(
            *[F.col(f"h{b * MINHASH_ROWS_PER_BAND + r}") for r in range(MINHASH_ROWS_PER_BAND)]
        )
        for b in range(MINHASH_BANDS)
    ]
    bands = sig.select(
        "doc_id", F.posexplode(F.array(*band_hashes)).alias("band", "band_hash")
    )
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(spark, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard over
    hashed shingle sets (candidates only — never all pairs).

    Jaccard is computed over the 60-bit md5-derived shingle hashes rather
    than the shingle strings: identical up to hash collisions (~n²/2⁶⁰
    per doc pair), with 8-byte array compares instead of string compares
    in the verify join. Both verify sides read ``sh`` from the SAME
    signature aggregate that feeds the band buckets, so all three
    consumers hang off ONE exchange (explode → codegen md60 →
    hashpartitioning(doc_id)) and the tokenize+hash map side is computed
    exactly once — re-running only the cheap post-shuffle final
    aggregate per consumer. (A separate collect_list-only aggregate here
    would NOT be deduplicated: its partial aggregate below the
    exchange differs from the signature aggregate's partials, so
    ReusedExchange can't fire across the two — measured as 2 extra
    full tokenization passes in the r6 plan audit.)

    Value-hash-checked since round 6: every stage (md60 base hash,
    affine permutation mins, band-tuple buckets, Jaccard verify) has an
    exact DuckDB twin (oracles.MINHASH_LSH_PAIRS_SQL)."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return _lsh_pairs_serve(minhash_signatures(docs))


def _lsh_pairs_serve(sig: DataFrame) -> DataFrame:
    """Band candidates + exact-Jaccard verify over any signature frame
    (doc_id, sh, h0..h63) — shared by the in-plan path and the stored-
    signature lifecycle queries."""
    cands = _candidate_pairs_lsh(sig)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # Hashed-shingle arrays are distinct sets, so |A∪B| = |A|+|B|-inter —
    # avoids materializing an array_union per candidate pair.
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_MIN)
        .orderBy("doc_a", "doc_b")
    )


def minhash_signature_store_roundtrip(spark, sf_dir: str) -> DataFrame:
    """The PERSISTED MinHash signature table — the dedup arm's stored
    artifact (the ANN rungs and the lexical postings each roundtrip
    theirs; the banded-LSH path's 66-column signature table is exactly
    as storable): signatures are WRITTEN through the exactly-once
    manifest sink, READ BACK, and band candidates + Jaccard verify run
    from the STORED rows via the identical ``_lsh_pairs_serve`` plan.
    Hashing to the same pairs twin proves write → read → serve lossless
    — the property that lets nightly dedup reuse yesterday's signatures
    (one tokenize+hash pass per document EVER, not per run).
    
    Measured (r10): 3.6 s at sf0.1 (best-of-2, noop sink) incl. the
    store write — vs 4.4 s for the in-plan pairs path in the same
    session (the stored read is cheaper than re-hashing).
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    sigs = minhash_signatures(docs)
    return _lsh_pairs_serve(store_and_read_back(sigs, "minhash_signatures", sf_dir))


# Constructing this query's DataFrame EXECUTES the signature build and a
# real manifest-sink write — the storage leg it exists to prove.
minhash_signature_store_roundtrip.side_effecting = True


def minhash_lsh_incremental_pairs(spark, sf_dir: str) -> DataFrame:
    """INCREMENTAL MAINTENANCE of the LSH dedup state — the nightly-crawl
    shape for fuzzy dedup at 100 TB: the historical 90% of documents'
    signatures are the STORED artifact (manifest sink, read back);
    arriving documents hash into delta signatures (one pass over the
    ARRIVALS, never the corpus) and UNION in; the merged table serves
    band candidates + verify through the identical plan. Signatures are
    PER-ROW (no trained state — the lexical-postings/SQ8/BQ argument),
    so maintenance is EXACT and the hash gate is the plain pairs twin:
    appending signatures never degrades the index.

    At production scale the nightly pair DELTA (pairs touching an
    arrival) is what feeds the cluster merge —
    ``dedup_clusters_incremental_merge`` already proves that leg; this
    query proves the signature-store leg above it.
    
    Measured (r10): 6.4 s at sf0.1 (best-of-2, noop sink) — the base
    store write + delta hash + merged serve.
    """
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    sig = minhash_signatures(docs)

    # the base/delta boundary over the SIGNATURE id set — before r14 the
    # count + sort/limit sizing jobs each re-executed the full signature
    # chain per construction (VERDICT r13 #4); one session-cached scalar
    cut = rank_cut(spark, sf_dir, "minhash_sig_cut", sig.select("doc_id"))
    return _lsh_pairs_serve(
        store_base_with_delta(sig, "minhash_sig_base", sf_dir, "doc_id", cut)
    )


# Constructing this query's DataFrame EXECUTES the base-signature build
# and a real manifest-sink write — the storage leg it exists to prove.
minhash_lsh_incremental_pairs.side_effecting = True


def _prefix_len_expr(min_jaccard: float) -> Column:
    """PPJoin prefix length ``sz − ⌈t·sz⌉ + 1`` over the ``sz`` column,
    with the ceiling in exact rational arithmetic — float ``ceil(0.4*5)``
    is 3, not 2, which would silently SHORTEN prefixes and drop true
    pairs. Shared by ``_prefix_candidates``, the incremental-merge delta
    posting builder, and the LSH recall report's truth arm (ADVICE r10:
    one definition, so a threshold/formula fix cannot skew one arm)."""
    from fractions import Fraction

    frac = Fraction(str(min_jaccard))
    num, den = frac.numerator, frac.denominator
    # ceil as exact integer math (floor((num*sz + den - 1)/den)); double
    # FP division is exact here (ints < 2^52)
    return (
        F.col("sz")
        - F.floor((F.lit(num) * F.col("sz") + F.lit(den - 1)) / F.lit(den))
        + 1
    ).cast("int")


def _prefix_candidates(sh: DataFrame, min_jaccard: float) -> DataFrame:
    """EXACT candidate pairs via prefix filtering (Bayardo et al., WWW'07
    "Scaling Up All Pairs Similarity Search" / PPJoin): order each doc's
    shingles by ascending GLOBAL frequency (rarest first, ties by hash);
    any pair with Jaccard ≥ t must share an element within each side's
    first ``|X| − ⌈t·|X|⌉ + 1`` shingles, so joining only those prefixes
    yields a guaranteed superset of the true pairs — measured 354,782 →
    ≤ 21,205 candidate verifications at sf0.1 (17×), because prefixes
    hold each doc's RAREST shingles and rare shingles have tiny join
    fan-out (max 5 docs per prefix key at sf0.1).

    The canonical order here is the HASH value itself (the ``sh`` arrays
    arrive hash-sorted), so the prefix is a zero-cost ``slice`` — no
    global-frequency pass. Frequency-ascending order would minimize
    candidates (measured 21,205 vs 27,145 at sf0.1 — a 22% difference on
    this near-uniform corpus, worth revisiting for heavily skewed
    shingle distributions), but it costs a df aggregate + join + window
    over every posting, which at sf0.1 cost more wall-clock than the
    whole quadratic verify it saved. Any fixed total order is exact.

    ``⌈t·sz⌉`` is computed with exact rational arithmetic — float
    ``ceil(0.4*5)`` is 3, not 2, which would silently SHORTEN prefixes
    and drop true pairs.

    A popular prefix shingle is still a possible hot join key, so the
    prefix join itself goes through ``bounded_self_pairs`` on
    (lang, lb, shingle) — candidate generation stays bounded per key.
    Returns distinct (lang, doc_id_a, doc_id_b).
    """
    from aws_saas_etl_spark.operators.pairs import bounded_self_pairs

    pfx_len = _prefix_len_expr(min_jaccard)
    pfx = sh.select(
        "lang",
        "lb",
        "doc_id",
        F.explode(F.slice("sh", F.lit(1), pfx_len)).alias("h"),
    )
    cand = bounded_self_pairs(pfx, ["lang", "lb", "h"], "doc_id", [])
    # a pair can be found through several shared prefix shingles → dedup
    return cand.select("lang", "doc_id_a", "doc_id_b").distinct()


#: Session-scoped memo of the checkpointed shingle table — FIVE
#: consumers reach it (the pairs query, the cluster chain, the
#: incremental merge, the store roundtrip, the pairs parity tests);
#: without the memo each builds and holds its own materialized copy.
_SHINGLE_CACHE = MemoDict("shingle")


def _shingle_table(spark, sf_dir: str) -> DataFrame:
    """The shingle-set side table every exact-Jaccard consumer shares:
    ``(doc_id, lang, sh, lb, sz)`` with ``sh`` the hash-sorted xxhash64
    shingle array and ``lb`` the token-count decade block. Shingles are
    hashed to int64 BEFORE any join: 8-byte compares and a narrow shuffle
    instead of moving string arrays. Built once per session per corpus
    (see ``_SHINGLE_CACHE``)."""

    def build() -> DataFrame:
        docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
        return (
            docs.select(
                "doc_id",
                "lang",
                F.array_sort(hashed_shingles("text")).alias("sh"),
                (T.token_count("text").cast("int") / F.lit(LENGTH_BUCKET))
                .cast("int")
                .alias("lb"),
            )
            .withColumn("sz", F.size("sh"))
        )

    return _SHINGLE_CACHE.get_or_build(spark, sf_dir, build=build)


def _verify_pairs(cand: DataFrame, sh: DataFrame, min_jaccard: float) -> DataFrame:
    """Exact-Jaccard verify of candidate ``(doc_id_a, doc_id_b)`` pairs
    against the shingle table → ``(doc_a, doc_b, lang, jaccard)``,
    unsorted. Cheap filters run before the O(|A|+|B|) intersect."""
    pairs = cand.join(
        sh.select(
            F.col("doc_id").alias("doc_id_a"),
            F.col("sh").alias("sh_a"),
            F.col("sz").alias("sz_a"),
        ),
        "doc_id_a",
    ).join(
        sh.select(
            F.col("doc_id").alias("doc_id_b"),
            F.col("sh").alias("sh_b"),
            F.col("sz").alias("sz_b"),
        ),
        "doc_id_b",
    )
    # Set-similarity length filter: jaccard >= J implies min|A|,|B| >=
    # J * max|A|,|B| (inter <= min, union >= max). Applying it before the
    # O(|A|+|B|) array_intersect skips the verify for most pairs. The
    # 1e-6 slack keeps boundary pairs whose round(j, 6) lands exactly on J.
    length_ok = (
        F.least("sz_a", "sz_b").cast("double")
        >= (min_jaccard - 1e-6) * F.greatest("sz_a", "sz_b") - 1e-6
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # Shingle arrays are distinct (array_distinct upstream), so the union
    # size is |A| + |B| - inter — no array_union materialization per pair.
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        pairs.where(length_ok)
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            "lang",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


def ngram_jaccard_pairs(spark, sf_dir: str, min_jaccard: float = 0.4) -> DataFrame:
    """Exact n-gram Jaccard pairs, blocked by (language, token-count
    bucket), candidates via prefix filtering.

    The oracle-checkable baseline for fuzzy dedup. Two exact filters
    bound the quadratic term: candidates must share a language AND a
    token-count decade (near-identical documents have near-identical
    lengths), and within a block only pairs sharing a RARE shingle
    (prefix filter — see ``_prefix_candidates``) reach the O(|A|+|B|)
    intersection verify. Both rewrites are exact (parity vs the naive
    quadratic blocked join pinned in tests/test_pairs.py; oracle twin
    remains the quadratic SQL). At 100 TB the probabilistic alternative
    is LSH bands (minhash_lsh_pairs); this operator freezes the exact
    semantics LSH approximates.
    """
    sh = _shingle_table(spark, sf_dir)
    cand = _prefix_candidates(sh, min_jaccard)
    return _verify_pairs(cand, sh, min_jaccard).orderBy("doc_a", "doc_b")


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) via explode → hash-per-token → 64 per-bit majority
    votes in one aggregate pass.

    The 64 token-hash bits come from md5 (two 32-bit halves of the hex
    digest via conv, each positive in a signed int64) instead of
    xxhash64, so the DuckDB twin reproduces every vote, the assembled
    fingerprint (sign bit via two's-complement HUGEINT wrap on the
    oracle side), and the band keys exactly — simhash_buckets graduated
    from rows-only to value-hash-checked in round 6."""
    rows = docs.select(
        "doc_id", F.explode(F.array_distinct(T.tokens("text"))).alias("tok")
    )
    hx = "md5(tok)"
    hi = f"CAST(conv(substring({hx}, 1, 8), 16, 10) AS BIGINT)"  # bits 32..63
    lo = f"CAST(conv(substring({hx}, 9, 8), 16, 10) AS BIGINT)"  # bits 0..31
    votes = rows.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright({lo if j < 32 else hi}, {j % 32}) & 1)"
                f" = 1 THEN 1 ELSE -1 END) AS v{j}"
            )
            for j in range(SIMHASH_BITS)
        ]
    )
    # Assemble: bit j set iff vote > 0. Bit 63 contributes the sign bit.
    bits = [
        f"CASE WHEN v{j} > 0 THEN "
        f"{'CAST(-9223372036854775808 AS BIGINT)' if j == 63 else f'{2**j}L'}"
        " ELSE 0L END"
        for j in range(SIMHASH_BITS)
    ]
    return votes.selectExpr("doc_id", f"{' + '.join(['0L', *bits])} AS simhash")


def simhash_band_check(spark, sf_dir: str) -> DataFrame:
    """Oracle-checkable twin of ``simhash_buckets``'s BANDING layer.

    ``simhash_buckets`` itself is rows-only verified: its fingerprint is
    built on xxhash64, which no other engine reproduces. The banding math
    (shift + mask into 4 blocking keys) is engine-neutral, so this query
    freezes it against the oracle using a fingerprint BOTH engines compute
    identically: the first 60 bits of md5(text) (15 hex chars → bigint; 60
    bits keeps the value positive in a signed 64-bit int, so plain shifts
    are unsigned-safe), banded 4 × 15 bits — the same shift/mask shape the
    simhash path uses on its 64-bit signatures.
    """
    docs = load_tables(spark, sf_dir).documents
    fp = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("bigint")
    sig = docs.select("doc_id", fp.alias("fp60"))
    return sig.select(
        "doc_id",
        "fp60",
        *[
            F.shiftrightunsigned("fp60", 15 * band)
            .bitwiseAND(F.lit(0x7FFF))
            .cast("int")
            .alias(f"band_{band}")
            for band in range(4)
        ],
    ).orderBy("doc_id")


def simhash_buckets(spark, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + 16-bit band buckets (the blocking key for
    Hamming-distance near-dup search: dups within Hamming ≤ 3 of a 64-bit
    hash must collide on at least one of 4 16-bit bands)."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    sig = simhash_fingerprints(docs)
    return sig.select(
        "doc_id",
        "simhash",
        *[
            F.shiftrightunsigned("simhash", 16 * band)
            .bitwiseAND(F.lit(0xFFFF))
            .alias(f"band_{band}")
            for band in range(4)
        ],
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Cluster resolution: candidate pairs → connected components → keep-one
# --------------------------------------------------------------------------

CC_MAX_ITER = 20  # ≥ log2(longest dup-chain); fixpoint detected earlier


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = CC_MAX_ITER
) -> DataFrame:
    """Connected components of an undirected edge list → (node, component),
    component = min node id reachable. Iterative min-label propagation:
    each round every node takes the min label among itself and its
    neighbors; converges in O(diameter) rounds (dup clusters are near-
    cliques, so 2-3 rounds in practice) with a fixpoint check per round.

    Scale design: per-round work is one join + one aggregate, both
    shuffling on node id — the standard distributed-CC shape (GraphX /
    Kiveris et al. "Connected Components in MapReduce"). Each round's
    labels are localCheckpoint'ed: without it the lineage doubles per
    round and plan compilation, not the data, becomes the bottleneck.
    The fixpoint probe is a count() aggregate (a scalar per round, not a
    collect of rows) — the same driver-side control loop every iterative
    Spark algorithm (ALS, PageRank) uses.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialize the edge list ONCE: every round references it, and
    # without the checkpoint each round's action re-runs the upstream
    # pair-generation pipeline (for LSH edges, the whole MinHash pass)
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).localCheckpoint()
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("min_nbr"))
        .select(F.col("a").alias("node"), F.least("a", "min_nbr").alias("comp"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # neighbor labels: node a hears the component of each neighbor b.
        # Each node's OLD label rides along through the same aggregate
        # (min over exactly one non-null value), so the fixpoint probe is
        # a filter over the just-checkpointed result — no extra join.
        msgs = sym.join(
            labels.select(F.col("node").alias("b"), "comp"), "b"
        ).select(
            F.col("a").alias("node"),
            "comp",
            F.lit(None).cast("long").alias("old"),
        )
        own = labels.select("node", "comp", F.col("comp").alias("old"))
        new_labels = (
            msgs.unionByName(own)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("old").alias("old_comp"))
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("comp") != F.col("old_comp")).count()
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
    return labels


#: Session-scoped cache of the exact content-cluster assignment table
#: per min_jaccard (and, under ``"lsh"``, the MinHash-LSH arm's). The
#: pairs → CC chain is the single most expensive computation in the
#: engine (~4.5 s at sf0.1) and THREE registry queries need exactly the
#: same assignment (keep-best canonicalization, cluster rows, split-leakage
#: audit) — without this they each recomputed it from scratch, the
#: entire top-3 of the bench (measured r6 at sf0.1: keep-best
#: 5.20 → 0.70 s, cluster rows 4.59 → 0.14 s, split-leakage
#: 4.48 → 0.19 s; the chain cost is paid once, by whichever consumer
#: runs first). The cached value is the (node, comp) table:
#: cluster-membership-sized, tiny relative to the corpus.
_CLUSTER_CACHE = MemoDict("clusters")


def content_clusters(spark, sf_dir: str, min_jaccard: float = 0.4) -> DataFrame:
    """The shared materialized content-cluster intermediate: exact
    prefix-filtered n-gram Jaccard pairs → connected components →
    ``(node, comp)``, computed ONCE per session per fixture dir and
    reused by every consumer (``duplicate_clusters_exact``,
    ``dedup_canonical_keep_best``, ``split_leakage_check``).

    This is the in-session realization of the production shape: at
    100 TB the cluster-assignment table is a stored artifact (written
    through the manifest sink / JobStore append log), maintained
    incrementally as documents arrive (``clusters_incremental_merge``
    demonstrates the exact merge), and every dedup/curation/audit
    consumer reads it instead of re-deriving pairs — the same
    compute-once-consume-many contract a materialized view gives the
    rollup queries."""

    def build() -> DataFrame:
        # unsorted pair stream straight into CC — the registry query's
        # global orderBy is presentation-only and would cost a range
        # exchange here
        sh = _shingle_table(spark, sf_dir)
        pairs = _verify_pairs(_prefix_candidates(sh, min_jaccard), sh, min_jaccard)
        return connected_components(pairs, src="doc_a", dst="doc_b")

    return _CLUSTER_CACHE.get_or_build(spark, sf_dir, min_jaccard, build=build)


def duplicate_clusters(spark, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster resolution — the step a dedup pipeline runs
    AFTER pair generation: verified MinHash-LSH pairs → connected
    components → one keeper per cluster (min doc_id, the same keeper rule
    the exact-dedup queries use) + members for audit.

    Value-hash-checked since round 6 (the md60/affine rehash made the
    LSH pair set deterministic across engines): the oracle is the
    recursive-CTE transitive closure over the SAME band-bucketed pair
    CTE. Invariants are additionally pytest-verified
    (tests/test_functions.py): both endpoints of every pair share a
    cluster, cluster_id is the min member, transitive chains collapse
    into one cluster.

    ``member_doc_ids`` is emitted as a comma-joined STRING (not
    array<long>): the driver's rows-only canonicalizer sorts all columns
    with pandas, which cannot hash list cells (r2 FAIL was exactly this).
    The sorted-then-joined string is equally audit-usable and totally
    ordered.
    """
    return _cluster_rows(_lsh_clusters_cached(spark, sf_dir))


def _lsh_clusters_cached(spark, sf_dir: str) -> DataFrame:
    """The (node, comp) assignment over MinHash-LSH pairs, session-cached
    (r14): the LSH arm's cluster table is the same stored artifact
    ``content_clusters`` already models for the exact-pairs arm — the
    cluster resolution and the funnel's near-dup rung consume one
    checkpointed assignment instead of each re-running the signature →
    band → verify → CC chain."""
    return _CLUSTER_CACHE.get_or_build(
        spark, sf_dir, "lsh",
        build=lambda: connected_components(
            minhash_lsh_pairs(spark, sf_dir), src="doc_a", dst="doc_b"
        ),
    )


def duplicate_clusters_exact(spark, sf_dir: str) -> DataFrame:
    """``duplicate_clusters`` with the EXACT candidate generator: prefix-
    filtered n-gram Jaccard pairs (deterministic, oracle-expressible)
    instead of MinHash-LSH — so the full cluster path (pairs → connected
    components → cluster rows) is value-hash-checked against a DuckDB
    recursive-CTE transitive closure, end to end.

    This freezes the CLUSTER-ROW semantics (member list, keeper rule,
    n_removed) that the LSH-fed ``dedup_duplicate_clusters`` — hash-seeded
    upstream, necessarily rows-only — approximates; together the two
    queries split the evidence exactly where the determinism boundary is.

    Same scale shape as keep-best: PPJoin prefix filtering bounds the pair
    space, CC is the checkpointed min-label loop, the member list is per
    cluster (dup-group-sized, never corpus-sized). The assignment comes
    from the shared ``content_clusters`` intermediate — computed once per
    session, reused by keep-best and the split-leakage audit.
    """
    comp = content_clusters(spark, sf_dir)
    return _cluster_rows(comp)


#: Fraction of the corpus treated as the "arriving" delta batch in the
#: incremental cluster-merge demonstration (split by exact doc_id
#: percentile, the append-only-corpus shape: high ids arrive last).
DELTA_DOC_FRACTION = 0.1


def clusters_incremental_merge(spark, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the content-cluster table — the 100 TB
    production shape for dedup state: the stored cluster assignment
    (pairs → CC over the 90% "historical" corpus) absorbs an arriving
    batch (the top-decile doc_ids) WITHOUT recomputing historical
    pair-space, and the merged table is proven identical to a full
    recompute (the oracle is the same recursive-CTE transitive closure
    ``dedup_duplicate_clusters_exact`` checks against — over ALL
    documents).

    Why this is exact, not approximate: a stored assignment
    ``(node, comp)`` encodes the connectivity of all historical pairs
    losslessly as star edges node↔comp (comp is itself the min member,
    so no phantom nodes). Running the same min-label CC over
    {star edges} ∪ {pairs touching an arrival} therefore yields exactly
    the components — and, because labels are min-ids on both paths,
    exactly the labels — of CC over the full pair set. Matching against
    representatives only (a common shortcut) would NOT be exact: an
    arrival can match a non-representative member; so the delta join
    runs against the full shingle table, prefix-filtered.

    Cost shape: the delta's candidate generation is an asymmetric
    prefix-posting join (arrival prefixes × all prefixes on
    (lang, lb, shingle)) — |delta|-proportional, never |corpus|² —
    followed by the usual O(|A|+|B|) verify, then a CC whose
    historical side is ALREADY collapsed (star edges ⇒ the loop
    converges in ≈ 2 rounds regardless of historical diameter). At
    100 TB the assignment table and the shingle/prefix postings are
    stored artifacts (manifest sink / JobStore append log, exactly the
    ``events_incremental_hourly_merge`` precedent); per-batch work is
    delta-sized. A hot prefix shingle on the all-docs side would get
    the same 1-Bucket-Theta split ``bounded_self_pairs`` applies to the
    self-join case (max posting fan-out is 5 docs at sf0.1, so the
    plain join is the measured right call at driver scales).
    """
    sh = _shingle_table(spark, sf_dir)
    tagged = _tag_arrivals(spark, sf_dir)
    # The "stored" historical assignment: pairs → CC over the base corpus
    # only, memoized per session. In production this is read back from
    # the cluster store, not recomputed — the oracle match below proves
    # the merge would be exact no matter how many increments ago it was
    # written (``dedup_cluster_store_roundtrip`` runs the same merge
    # against an assignment physically round-tripped through the sink).
    base_labels = _base_assignment(spark, sf_dir)
    comp = _merge_delta_into_labels(base_labels, tagged, sh)
    return _cluster_rows(comp)


#: Session-scoped memo of the base (historical-corpus) assignment — the
#: "stored table" both incremental-maintenance queries consume; in
#: production it is one artifact, so computing it once per session is
#: the faithful model (and saves a full pairs→CC chain when both run).
_BASE_LABELS_CACHE = MemoDict("base_labels")


def _base_assignment(spark, sf_dir: str) -> DataFrame:
    """Pairs → CC over the 90% historical slice, memoized per session —
    the cluster table an incremental pipeline reads from storage."""

    def build() -> DataFrame:
        base_sh = _tag_arrivals(spark, sf_dir).where(~F.col("is_new")).drop("is_new")
        base_pairs = _verify_pairs(_prefix_candidates(base_sh, 0.4), base_sh, 0.4)
        return connected_components(base_pairs, src="doc_a", dst="doc_b")

    return _BASE_LABELS_CACHE.get_or_build(spark, sf_dir, build=build)


def _tag_arrivals(spark, sf_dir: str) -> DataFrame:
    """The shingle table with the arriving delta batch marked: ``is_new``
    holds for doc_ids above ``delta_doc_cut`` (append-only corpora assign
    ids monotonically, so the top decile IS the newest slice)."""
    cut = delta_doc_cut(spark, sf_dir)
    return _shingle_table(spark, sf_dir).withColumn(
        "is_new", F.col("doc_id") > F.lit(cut)
    )


def delta_doc_cut(spark, sf_dir: str) -> float:
    """The base/delta doc_id boundary every incremental consumer compares
    against (``_tag_arrivals``, the stored base verdicts and manifest, the
    staged stream slice): the ``1 − DELTA_DOC_FRACTION`` exact percentile
    of doc_id over the shingle table — shingle-weighted, NOT per-doc, and
    the oracle twins encode exactly that cut. It names stored base tables
    (``proc_dir`` tags and staged dirs embed it), so it is derived once
    per session in ``memo._DERIVED_CUT_CACHE`` beside the integer-rank
    cuts. A bigint ``doc_id > cut`` against this double is the same
    comparison the in-plan percentile made."""
    return _DERIVED_CUT_CACHE.get_or_build(
        spark, sf_dir, "doc_delta",
        build=lambda: _shingle_table(spark, sf_dir)
        .agg(F.percentile("doc_id", 1.0 - DELTA_DOC_FRACTION).alias("cut"))
        .first()["cut"],
    )


def _merge_delta_into_labels(
    base_labels: DataFrame, tagged: DataFrame, sh: DataFrame
) -> DataFrame:
    """Merge the arriving batch into a stored cluster assignment:
    delta-only candidate generation (arrival prefix postings × ALL
    prefix postings — both sides prefix-sliced, so the PPJoin guarantee
    holds for new–old and new–new pairs alike), exact verify, then CC
    over {star edges of the stored assignment} ∪ {delta pairs}. The
    historical side is already collapsed, so the loop converges in ≈ 2
    rounds regardless of historical diameter."""
    pfx_len = _prefix_len_expr(0.4)
    posts = tagged.select(
        "lang",
        "lb",
        "doc_id",
        "is_new",
        F.explode(F.slice("sh", F.lit(1), pfx_len)).alias("h"),
    ).localCheckpoint()
    arr_posts = posts.where(F.col("is_new")).select(
        "lang", "lb", "h", F.col("doc_id").alias("new_id")
    )
    delta_cand = (
        arr_posts.join(posts, ["lang", "lb", "h"])
        .where(F.col("doc_id") != F.col("new_id"))
        .select(
            "lang",
            F.least("doc_id", "new_id").alias("doc_id_a"),
            F.greatest("doc_id", "new_id").alias("doc_id_b"),
        )
        .distinct()
    )
    delta_pairs = _verify_pairs(delta_cand, sh, 0.4)
    edges = base_labels.select(
        F.col("node").alias("doc_a"), F.col("comp").alias("doc_b")
    ).unionByName(delta_pairs.select("doc_a", "doc_b"))
    return connected_components(edges, src="doc_a", dst="doc_b")


def _cluster_rows(comp: DataFrame) -> DataFrame:
    """(node, comp) assignment → the canonical cluster-row shape shared
    by every cluster query (sorted member string, min-id keeper)."""
    return (
        comp.groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.concat_ws(",", F.sort_array(F.collect_list("node"))).alias(
                "member_doc_ids"
            ),
        )
        .select(
            "cluster_id",
            "n_members",
            "member_doc_ids",
            F.col("cluster_id").alias("keeper_doc_id"),
            (F.col("n_members") - 1).alias("n_removed"),
        )
        .orderBy("cluster_id")
    )


def cluster_store_roundtrip(spark, sf_dir: str) -> DataFrame:
    """The full PRODUCTION composition for dedup state — the piece that
    ties the engine's storage and compute halves together: the base
    cluster assignment is WRITTEN through the exactly-once manifest sink
    (atomic commit, crash-invisible staging), READ BACK as the stored
    table, merged with the arriving batch (delta-only pair generation,
    star-edge CC — ``_merge_delta_into_labels``), the merged assignment
    is written back (crash-safe overwrite: old files outlive the commit
    until the manifest swap), and the final STORED state is re-read and
    emitted as cluster rows.

    The oracle is the full-recompute recursive-CTE closure over all
    documents — the hash match proves write → read → incremental merge →
    write → read is lossless AND merge-exact end to end. This is the
    shape a 100 TB pipeline actually runs nightly: cluster state lives
    in object storage between batches; only the delta's pair space is
    ever recomputed.
    """
    sh = _shingle_table(spark, sf_dir)
    tagged = _tag_arrivals(spark, sf_dir)
    base_labels = _base_assignment(spark, sf_dir)

    stored = store_and_read_back(base_labels, "cluster_store", sf_dir)
    merged = _merge_delta_into_labels(stored, tagged, sh)
    return _cluster_rows(store_and_read_back(merged, "cluster_store", sf_dir))


# Constructing this query's DataFrame EXECUTES two manifest-sink writes
# (base assignment, merged assignment) — deliberate (it proves the
# storage + merge legs), but plan/bench tools that call every registered
# fn must know each call re-runs the stored-state rewrite. (ADVICE r7)
cluster_store_roundtrip.side_effecting = True


ER_MAX_EDITS = 2  # fuzzy-match threshold on edit distance
ER_TARGET_BLOCK = 64  # expected fuzzy-blocking block size ceiling


def er_block_suffix_len(n_rows: int) -> int:
    """Smallest suffix length k ≥ 2 with 10^k · ER_TARGET_BLOCK ≥ n —
    name suffixes are uniform digits, so expected block size ≈
    n / 10^k ≤ ER_TARGET_BLOCK and the within-block candidate count
    stays linear in n. Integer arithmetic only (the oracle mirrors it as
    a CASE ladder; a float log could flip at an exact power-of-ten
    boundary)."""
    k = 2
    while 10**k * ER_TARGET_BLOCK < n_rows:
        k += 1
    # The oracle's CASE ladder (oracles._fuzzy_match_sql) is unrolled only
    # to k = 9 (n up to 10^9 · ER_TARGET_BLOCK = 64e9 rows — far beyond any
    # driver scale). Fail loudly rather than silently diverge from the twin.
    assert k <= 9, (
        f"er_block_suffix_len: n_rows={n_rows} needs suffix k={k} > 9; "
        "extend the CASE ladder in oracles._fuzzy_match_sql in lockstep"
    )
    return k


def customer_fuzzy_matches(spark, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage over ``customer``: candidate
    duplicate identities found by blocked fuzzy name matching — blocking
    key first (only within-block pairs are compared, the standard ER
    move that turns O(n²) into Σ block²), then exact Levenshtein edit
    distance on the survivors.

    Blocking here is the name's last two characters (uniform over the
    fixture's numbered names); real pipelines block on several cheap
    keys (phonetic code, zip, normalized phone) and union the candidate
    sets — the plan shape (self-join on the blocking key, inequality on
    the id to emit each pair once, edit-distance filter) is identical.
    A popular suffix would make one block quadratic, so the pair space
    goes through ``bounded_self_pairs`` (triangle partitioning): same
    exact output, per-join-key pair count capped.

    Blocking selectivity SCALES WITH n (r5 — the scale probe caught the
    fixed-key quadratic: last-2 blocking pinned block count at 100, so
    blocks grew linearly with the table and within-block pairs
    quadratically, α→1.3 on the 4×→8× step). The suffix length k is the
    smallest k ≥ 2 with 10^k · ER_TARGET_BLOCK ≥ n — expected block size
    stays ≤ ER_TARGET_BLOCK, keeping Σ block² (the candidate count)
    linear in n. Exact integer thresholds, mirrored as a CASE ladder in
    the oracle, so no float log can disagree at a boundary; at the
    driver's fixture scales (n ≤ 6400) k = 2, i.e. semantics there are
    unchanged. The count() is a bounded driver scalar (the documented
    sizing-probe pattern, as in semdedup/LSH).
    """
    from aws_saas_etl_spark.operators.pairs import bounded_self_pairs

    cust = ensure_parallelism(load_tables(spark, sf_dir).customer).select(
        F.col("c_custkey"), F.col("c_name"), F.col("c_nationkey")
    )
    k = er_block_suffix_len(table_row_count(spark, sf_dir, "customer"))
    blocked = cust.withColumn("blk", F.substring("c_name", -k, k))
    pairs = bounded_self_pairs(blocked, ["blk"], "c_custkey", ["c_name", "c_nationkey"])
    return (
        pairs.withColumn("edit_dist", F.levenshtein("c_name_a", "c_name_b"))
        .where(F.col("edit_dist") <= ER_MAX_EDITS)
        .select(
            F.col("c_custkey_a").alias("cust_a"),
            F.col("c_custkey_b").alias("cust_b"),
            "edit_dist",
            (F.col("c_nationkey_a") == F.col("c_nationkey_b"))
            .cast("int")
            .alias("same_nation"),
        )
        .orderBy("cust_a", "cust_b")
    )


# S-curve capture probabilities for the recall report, per exact-Jaccard
# decile band (midpoint m): P[any band matches] = 1 − (1 − m^r)^b with
# r = MINHASH_ROWS_PER_BAND, b = MINHASH_BANDS. Computed ONCE in Python
# and injected as literals into BOTH the Spark plan and the DuckDB twin —
# engine-neutral by construction (no cross-engine pow() in the hot path).
LSH_RECALL_BANDS = [0.5, 0.6, 0.7, 0.8, 0.9]
LSH_THEORY_CAPTURE = {
    f"{lo:.1f}": round(
        1.0 - (1.0 - (lo + 0.05) ** MINHASH_ROWS_PER_BAND) ** MINHASH_BANDS, 6
    )
    for lo in LSH_RECALL_BANDS
}


def dedup_lsh_recall_report(spark, sf_dir: str) -> DataFrame:
    """Measured recall of the banded MinHash-LSH dedup path against EXACT
    ground truth, stratified by true-Jaccard decile — the dedup analog of
    ``ann_ladder_recall_report``: the S-curve 1 − (1 − s^r)^b is the
    PROMISE (16 bands × 4 rows ⇒ ~50% capture at s = 0.5, >99.9% at
    s ≥ 0.8); this report is the driver-visible MEASUREMENT of it.

    Ground truth is exact Jaccard over the SAME md60-hashed shingle sets
    the MinHash signatures minimize (one ``minhash_signatures`` aggregate
    feeds both arms — truth and bands never see different tokenizations),
    found via prefix filtering on the hash-sorted arrays (exact superset,
    see ``_prefix_candidates``; no language/length blocking here, so the
    truth arm is the unconstrained pair set). A true pair is CAUGHT iff
    any of its 16 band-min 4-tuples collide — i.e. it appears in the
    band candidate set that feeds ``minhash_lsh_pairs``.

    Scale shape: the band arm is the production path (corpus-linear).
    The truth arm is the audit cost — prefix postings bound it the same
    way the pairs query bounds verification (rarest-shingle fan-out,
    ``bounded_self_pairs`` hot-key split); at 100 TB the report runs in
    its REGISTERED sampled form ``dedup_lsh_recall_report_sampled``
    (pairs within the hash-stable sample are an unbiased recall
    estimate — band capture is i.i.d. per pair given its Jaccard),
    exactly how the ANN ladder bounds its brute-force arm to a fixed
    query set. The theory column is a per-band literal, so the report
    costs two bounded aggregates beyond its arms.
    
    Measured (r10): 6.75 s at sf0.1 (bench, cold — top-12 entrant; the
    audit cost IS the claim, like ann_ladder_recall_report); α 0.39 at
    8× — the truth arm stays corpus-linear (SCALE.md).
    """
    return _lsh_recall_report_from(_lsh_recall_flagged(spark, sf_dir))


# Keep-fraction for the sampled audit form — the fleet-wide constant
# (shared with the ANN ladder audits) lives in sampling.py next to
# hash_bucket (VERDICT r11 #2).
from aws_saas_etl_spark.operators.sampling import AUDIT_SAMPLE_PCT  # noqa: E402


def dedup_lsh_recall_report_sampled(spark, sf_dir: str) -> DataFrame:
    """``dedup_lsh_recall_report`` over a SEEDED DETERMINISTIC corpus
    sample — the production shape its docstring promises: at 100 TB the
    exact-truth arm (the audit's dominant cost, α 0.39 at sf0.1) runs on
    a hash-stable slice, and pair capture is i.i.d. per pair given its
    Jaccard, so recall over within-sample pairs is an unbiased estimate
    of corpus recall.

    The sample is ``hash_bucket(doc_id) < AUDIT_SAMPLE_PCT`` — the SAME
    md5-bucket assignment every split/sample operator uses (pure
    function of the key: stable across runs, cluster sizes, and
    repartitions; never ``rand()``). Both arms — exact truth AND band
    candidates — see the identical restricted corpus, so a within-sample
    pair's band capture is exactly what the full report would record for
    it (band collision depends only on the pair's own signatures);
    ``tests/test_pairs.py`` pins sampled ≡ full restricted to
    within-sample pairs. Same report schema as the full form.

    Scale shape: the restriction lands BEFORE shingling, so tokenize,
    MinHash, prefix postings, and the quadratic-verify candidates are
    all sample-bounded — the audit's cost scales with the sample, not
    the corpus.

    Measured (r11): 6.30 s at sf0.1 (scale probe 1×, best-of-2 noop) vs
    the full report's 8.53 s; at 8× the gap widens to 64% (12.99 s vs
    20.42 s, α 0.35 vs 0.42) — the truth arm's candidates shrink
    superlinearly with the slice (SCALE.md).
    """
    return _lsh_recall_report_from(
        _lsh_recall_flagged(spark, sf_dir, sample_pct=AUDIT_SAMPLE_PCT)
    )


def dedup_lsh_recall_report_sampled25(spark, sf_dir: str) -> DataFrame:
    """``dedup_lsh_recall_report_sampled`` at the LOWER registered
    fraction (``AUDIT_SAMPLE_PCT_LOW`` = 25%): the second point on the
    sampled-audit cost curve (VERDICT r11 #7). Identical construction —
    the md5-bucket restriction lands before shingling, so every arm is
    sample-bounded; 25 is the lowest fraction whose within-sample truth
    arm is non-empty at the driver's sf0.01 gate (10% holds zero true
    pairs there). Two measured fractions beside the full report turn
    SCALE.md's "the fraction is the production cost knob" reading into
    a curve rather than a single ratio.

    Measured (r12, one session): at 8× the curve reads full 18.51 s >
    50% 10.57 s > 25% 8.94 s (48% of full), monotone at every probed
    scale ≥ 2×; at 1× all three meet at the fixed-overhead floor — the
    honest statement that sampling buys nothing until the data term
    dominates (SCALE.md)."""
    from aws_saas_etl_spark.operators.sampling import AUDIT_SAMPLE_PCT_LOW

    return _lsh_recall_report_from(
        _lsh_recall_flagged(spark, sf_dir, sample_pct=AUDIT_SAMPLE_PCT_LOW)
    )


def _lsh_recall_flagged(
    spark, sf_dir: str, sample_pct: int | None = None
) -> DataFrame:
    """Pair-level (jaccard_band, hit) frame shared by the full and
    sampled recall reports; ``sample_pct`` restricts the corpus to the
    deterministic hash sample before either arm is built."""
    from aws_saas_etl_spark.operators.pairs import bounded_self_pairs

    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    if sample_pct is not None:
        from aws_saas_etl_spark.operators.sampling import hash_bucket

        docs = docs.where(hash_bucket("doc_id") < sample_pct)
    sig = minhash_signatures(docs).withColumn("sz", F.size("sh"))

    # truth arm: exact-Jaccard pairs >= JACCARD_MIN via prefix filtering;
    # prefix length shared with _prefix_candidates (ADVICE r10)
    pfx_len = _prefix_len_expr(JACCARD_MIN)
    pfx = sig.select("doc_id", F.explode(F.slice("sh", F.lit(1), pfx_len)).alias("h"))
    cand = (
        bounded_self_pairs(pfx, ["h"], "doc_id", [])
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    a = sig.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    truth = (
        cand.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_MIN)
    )

    # band arm: the candidate set the production LSH path verifies
    caught = _candidate_pairs_lsh(sig).withColumn("hit", F.lit(1))

    # doc_a/doc_b ride along for the sampled≡full pytest pin; the report
    # aggregation reads only (jaccard_band, hit)
    return truth.join(caught, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        F.format_string(
            "%.1f", F.least(F.floor(F.col("jaccard") * 10), F.lit(9)) / 10
        ).alias("jaccard_band"),
        F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
    )


def _lsh_recall_report_from(flagged: DataFrame) -> DataFrame:
    """Per-decile + overall recall aggregation over a flagged pair frame.

    ONE ``rollup`` pass instead of the former per-band-aggregate ∪
    overall-aggregate union (r13 optimization): the two union branches
    each re-executed the whole flagged subtree — signature aggregate,
    prefix candidates, exact-Jaccard verify, band candidates — because
    their partial aggregates differ below the exchange, so
    ReusedExchange can never fire across them (the measured
    minhash_signatures lesson). ``rollup("jaccard_band")`` computes the
    per-band rows and the grand-total row from the SAME single pass;
    the NULL grouping key of the total row maps to the 'all' label the
    report always carried. Identical values by construction: the total
    row's count/sum are the sums of the per-band partials, which is
    exactly what the overall aggregate computed. Plan diff at sf0.001:
    27 shuffles / 16 scans → 14 shuffles / 8 scans (the whole truth+band
    chain now appears once).
    """
    theory = F.lit(None).cast("double")
    for band, p in LSH_THEORY_CAPTURE.items():
        theory = F.when(F.col("jaccard_band") == band, F.lit(p)).otherwise(theory)
    return (
        flagged.rollup("jaccard_band")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum("hit").cast("bigint").alias("n_caught_pairs"),
        )
        .select(
            # the rollup total row carries a NULL band — it IS the 'all'
            # row (flagged never emits a NULL band: format_string of a
            # floor is always non-null, so coalesce cannot mislabel)
            F.coalesce(F.col("jaccard_band"), F.lit("all")).alias("jaccard_band"),
            "n_true_pairs",
            "n_caught_pairs",
            N.dround(F.col("n_caught_pairs") / F.col("n_true_pairs"), 6).alias(
                "recall"
            ),
            # band == NULL on the total row falls through every WHEN to
            # the NULL base — the same NULL theory_capture the union form
            # put there explicitly
            theory.alias("theory_capture"),
        )
        .orderBy("jaccard_band")
    )


SIMHASH_MAX_HAMMING = 3  # 4 bands of 16 bits ⇒ pigeonhole-complete to 3


def simhash_hamming_pairs(spark, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS with exact Hamming distances — the
    banding guarantee made driver-visible: with 4 bands of 16 bits, any
    pair within Hamming ≤ ``SIMHASH_MAX_HAMMING`` (= 3) flipped bits
    must collide on at least one INTACT band (pigeonhole), so examining
    only band-colliding candidates is provably COMPLETE at this radius.
    The oracle twin computes the same pair set EXHAUSTIVELY (plain
    quadratic join, no blocking) — the driver's hash equality is the
    empirical proof of the completeness theorem, the same differential
    structure as the prefix-filtered Jaccard pairs vs their quadratic
    twin.

    Scale shape: candidates come from 4 per-band bucket joins through
    ``bounded_self_pairs`` (hot buckets split, never unbounded); the
    Hamming verify is one XOR+popcount per candidate on 8-byte
    fingerprints the pair join carries as payload — no second lookup.
    Corpus-linear in candidates; nothing doc×doc.
    
    Measured (r10): 5.1 s at sf0.1 (best-of-2, noop sink).
    """
    from aws_saas_etl_spark.operators.pairs import bounded_self_pairs

    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    sig = simhash_fingerprints(docs)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 16 * band).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for band in range(4)
                ]
            )
        ).alias("band", "bkey"),
    )
    cand = bounded_self_pairs(banded, ["band", "bkey"], "doc_id", ["simhash"])
    hamming = F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    ).cast("int")
    return (
        cand.select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def dedup_funnel_report(spark, sf_dir: str) -> DataFrame:
    """The DEDUP FUNNEL — one row per rung of the dedup ladder, each
    with the documents the corpus would keep if dedup stopped there:
    exact (sha256), normalized (case/punct-insensitive), token-bag
    (order-insensitive), and near-dup (MinHash-LSH pairs → connected
    components, one keeper per cluster). The planning artifact a
    curation run publishes FIRST: how much each successively fuzzier
    (and successively costlier) rung actually buys on THIS corpus is
    what justifies — or kills — running it at 100 TB.

    ``n_groups`` is the post-dedup survivor count at that rung
    (groups = distinct hashes for the hash rungs; clusters + singletons
    for the near-dup rung), so ``n_removed = n_docs − n_groups`` is
    comparable down the whole funnel.

    The 5th rung (r11, VERDICT r10 #7) prices the REWRITE: substring
    dedup removes TOKENS, not documents, so its row switches unit (the
    ``unit`` column makes that explicit) — ``n_docs`` holds the corpus's
    total token count, ``n_groups`` the tokens the span rewrite keeps,
    ``n_removed`` the tokens inside cross-document duplicated spans.
    With it the funnel prices ALL rungs of the ladder in one artifact:
    how many docs each hash/near-dup rung drops, and how many tokens
    the substring pass additionally cuts from the survivors' texts.

    Scale shape: the three hash rungs share ONE aggregate pass (three
    count-distincts over the same scan); the near-dup rung reuses the
    proven pairs → checkpointed-CC chain and reduces it to two counts;
    the span rung reuses the coverage metric's gram aggregates
    (``doc_crossdoc_duplication``) reduced to two sums. Output: 5 rows.

    Measured (r11): 8.07 s at sf0.1 (bench, cold; was 6.02 s as the
    4-row form — the +2 s is the span rung's real gram groupBy, ≈ the
    standalone coverage metric's cost).
    """
    from aws_saas_etl_spark.operators.textops import _crossdoc_span_cached
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents).where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    bag = F.sha2(
        F.concat_ws(" ", F.array_sort(F.array_distinct(T.tokens("text")))), 256
    )
    hashes = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("g_exact"),
        F.countDistinct(F.sha2(T.normalized_text("text"), 256)).alias("g_norm"),
        F.countDistinct(bag).alias("g_bag"),
    )
    # the SAME session-cached cluster assignment duplicate_clusters
    # serves (r14) — the near rung reads the stored artifact, it does
    # not re-run the signature → band → verify → CC chain
    comp = _lsh_clusters_cached(spark, sf_dir)
    near = comp.agg(
        (F.count(F.lit(1)) - F.countDistinct("comp")).alias("n_removed_near")
    )
    j = hashes.withColumn("_k", F.lit(1)).join(
        F.broadcast(near.withColumn("_k", F.lit(1))), "_k"
    )

    # r13 optimization: the four doc-unit rows EXPLODE out of the single
    # (hashes × near) row instead of the former 4-way union of selects
    # over it — each union branch re-executed the full docs scan with its
    # three sha256 count-distincts AND the pairs→CC chain (branch partial
    # aggregates differ, so ReusedExchange cannot dedupe them; the
    # measured 16-shuffle/7-scan audit row). One execution, identical
    # rows: each struct computes exactly what its union branch selected.
    def stage_struct(name, groups_col):
        return F.struct(
            F.lit(name).alias("stage"),
            F.lit("docs").alias("unit"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            groups_col.cast("bigint").alias("n_groups"),
            (F.col("n_docs") - groups_col).cast("bigint").alias("n_removed"),
        )

    doc_rows = j.select(
        F.explode(
            F.array(
                stage_struct("1_exact", F.col("g_exact")),
                stage_struct("2_normalized", F.col("g_norm")),
                stage_struct("3_token_bag", F.col("g_bag")),
                stage_struct(
                    "4_near_dup", F.col("n_docs") - F.col("n_removed_near")
                ),
            )
        ).alias("r")
    ).select("r.stage", "r.unit", "r.n_docs", "r.n_groups", "r.n_removed")

    # the session-cached per-doc span table (r14) — shared with the
    # standalone doc_crossdoc_duplication query
    span = _crossdoc_span_cached(spark, sf_dir).agg(
        F.sum("n_tokens").alias("tot"), F.sum("dup_tokens").alias("rem")
    )
    span_row = span.select(
        F.lit("5_span_tokens").alias("stage"),
        F.lit("tokens").alias("unit"),
        F.col("tot").cast("bigint").alias("n_docs"),
        (F.col("tot") - F.col("rem")).cast("bigint").alias("n_groups"),
        F.col("rem").cast("bigint").alias("n_removed"),
    )

    return doc_rows.unionByName(span_row).orderBy("stage")
