"""bounded_self_pairs: exactness vs the quadratic reference, and the
per-join-key bound that makes hot blocks survivable at scale."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from aws_saas_etl_spark.operators.pairs import bounded_self_pairs


def _reference_pairs(rows):
    """Naive quadratic within-block pair set: {(block, id_a, id_b)}."""
    out = set()
    by_block = {}
    for blk, rid in rows:
        by_block.setdefault(blk, []).append(rid)
    for blk, ids in by_block.items():
        for a, b in itertools.combinations(sorted(ids), 2):
            out.add((blk, a, b))
    return out


@pytest.mark.parametrize("cap", [3, 10, 1_000_000])
def test_bounded_pairs_match_quadratic_reference(spark, cap):
    """One hot block (60 rows), two small ones — every cap must emit the
    identical pair set (triangle partitioning is an exact rewrite)."""
    rows = [("hot", i) for i in range(60)]
    rows += [("small", i) for i in range(100, 104)]
    rows += [("single", 999)]
    df = spark.createDataFrame(rows, "blk STRING, rid BIGINT")
    got = {
        (r.blk, r.rid_a, r.rid_b)
        for r in bounded_self_pairs(df, ["blk"], "rid", [], max_block_rows=cap).collect()
    }
    assert got == _reference_pairs(rows)


def test_bounded_pairs_caps_per_key_pair_count(spark):
    """A hot block's pair space must spread across many (block, cell) join
    keys, each holding ≈cap² pairs (hash sub-buckets fluctuate, so assert
    with slack) — vs the naive join's single key holding ALL C(n,2)."""
    cap = 5
    n = 40
    rows = [("hot", i) for i in range(n)]
    df = spark.createDataFrame(rows, "blk STRING, rid BIGINT")
    # re-derive the per-cell pair counts by grouping the helper's internals:
    # cell identity is recoverable from the sub-bucket of each emitted pair.
    counts = df.groupBy("blk").agg(F.count(F.lit(1)).alias("_n"))
    s_col = F.greatest(F.ceil(F.col("_n") / F.lit(cap)).cast("int"), F.lit(1))
    d = df.join(counts.select("blk", s_col.alias("_s")), ["blk"])
    g = F.pmod(F.xxhash64(F.col("rid")), F.col("_s")).cast("int")
    bucket = {r.rid: r.g for r in d.select("rid", g.alias("g")).collect()}
    pairs = bounded_self_pairs(df, ["blk"], "rid", [], max_block_rows=cap).collect()
    per_cell = {}
    for r in pairs:
        cell = tuple(sorted((bucket[r.rid_a], bucket[r.rid_b])))
        per_cell[cell] = per_cell.get(cell, 0) + 1
    total = n * (n - 1) // 2
    assert len(pairs) == total
    # the hot block actually split into s = ceil(40/5) = 8 sub-buckets ...
    assert len(set(bucket.values())) == 8
    # ... spreading pairs over many join keys, none near the naive single
    # key's C(40,2)=780; 6× slack over cap² covers hash imbalance at n=40
    assert len(per_cell) > 10
    assert max(per_cell.values()) <= 6 * cap * cap


def test_bounded_pairs_payloads_swap_with_ids(spark):
    """Payload columns must travel with their row when a cross-cell pair
    arrives id-unordered and gets normalized."""
    rows = [("b", i, f"name_{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "blk STRING, rid BIGINT, nm STRING")
    for r in bounded_self_pairs(df, ["blk"], "rid", ["nm"], max_block_rows=4).collect():
        assert r.rid_a < r.rid_b
        assert r.nm_a == f"name_{r.rid_a}"
        assert r.nm_b == f"name_{r.rid_b}"


def test_prefix_filtered_jaccard_matches_quadratic_reference(spark):
    """The prefix-filter candidate generator (dedup._prefix_candidates)
    must be a lossless rewrite: ngram_jaccard_pairs' output on the smoke
    fixture must equal the NAIVE quadratic blocked join's output computed
    inline — every (doc_a, doc_b, jaccard) identical."""
    from aws_saas_etl_spark.functions import text as T
    from aws_saas_etl_spark.operators.dedup import (
        LENGTH_BUCKET,
        hashed_shingles,
        ngram_jaccard_pairs,
    )
    from aws_saas_etl_spark.catalog import load_tables
    from tests.conftest import SF_SMOKE

    got = {
        (r.doc_a, r.doc_b): (r.lang, r.jaccard)
        for r in ngram_jaccard_pairs(spark, SF_SMOKE).collect()
    }

    docs = load_tables(spark, SF_SMOKE).documents
    sh_hashed = F.array_sort(hashed_shingles("text"))
    sh = docs.select(
        "doc_id",
        "lang",
        sh_hashed.alias("sh"),
        (T.token_count("text").cast("int") / F.lit(LENGTH_BUCKET))
        .cast("int")
        .alias("lb"),
    ).withColumn("sz", F.size("sh"))
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang"),
        F.col("lb").alias("lb"),
        F.col("sh").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("lb").alias("lb_b"),
        F.col("sh").alias("sh_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    naive = (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("lb") == F.col("lb_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            "lang",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.4)
    )
    want = {(r.doc_a, r.doc_b): (r.lang, r.jaccard) for r in naive.collect()}
    assert len(want) > 0
    assert got == want


def test_prefix_candidates_complete_on_adversarial_sets(spark):
    """Hypothesis fuzz of the prefix-filter COMPLETENESS property — the
    one thing that must never break in the PPJoin rewrite: for ANY doc
    set, every pair with Jaccard ≥ t must appear among the candidates
    (prefix too short by even one element would silently drop true
    pairs; the exact-rational ceil exists precisely for this). Exercises
    near-threshold set sizes, duplicate sets, singleton and empty sets,
    and multi-block layouts that the fixture corpus never hits."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from aws_saas_etl_spark.operators.dedup import _prefix_candidates

    shingle_set = st.lists(
        st.integers(min_value=-50, max_value=50), min_size=0, max_size=12
    ).map(lambda xs: sorted(set(xs)))
    docs_strategy = st.lists(shingle_set, min_size=2, max_size=16)
    thresholds = st.sampled_from([0.3, 0.4, 0.5, 0.8])

    @given(docs=docs_strategy, t=thresholds, n_blocks=st.sampled_from([1, 2]))
    @settings(
        max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
    )
    def check(docs, t, n_blocks):
        rows = [
            (i, "xx", i % n_blocks, [int(v) for v in sh], len(sh))
            for i, sh in enumerate(docs)
        ]
        sh_df = spark.createDataFrame(
            rows, "doc_id BIGINT, lang STRING, lb INT, sh ARRAY<BIGINT>, sz INT"
        )
        cand = {
            (r.doc_id_a, r.doc_id_b)
            for r in _prefix_candidates(sh_df, t).collect()
        }
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                if i % n_blocks != j % n_blocks:
                    continue  # different block: out of scope by design
                a, b = set(docs[i]), set(docs[j])
                if not a or not b:
                    continue
                jac = len(a & b) / len(a | b)
                if jac >= t:
                    assert (i, j) in cand, (
                        f"true pair ({i},{j}) J={jac:.3f} missing at t={t}"
                    )

    check()


def test_lsh_recall_report_scurve_on_midband_corpus(spark):
    """Pins the recall report's two arms on a corpus engineered to sit at
    the S-curve's steep middle: 40 doc pairs sharing a 42..49-token
    prefix with unique suffixes (shingle Jaccard 0.53..0.68, where the
    16×4 banding captures ~72-98% per pair), so the band arm must both
    catch and miss.

    (1) the naive quadratic truth finds exactly the 40 engineered pairs
        at J >= JACCARD_MIN;
    (2) the band arm catches SOME but not ALL of them (0 < recall < 1) —
        deterministic given the fixed MINHASH_A/B permutation constants
        (measured at authoring time: 37/40 caught).
    """
    from aws_saas_etl_spark.operators.dedup import (
        JACCARD_MIN,
        _candidate_pairs_lsh,
        minhash_signatures,
    )

    def word(pair: int, kind: str, j: int) -> str:
        # alphabetic-only tokens (the tokenizer drops digits)
        return f"{kind}{'abcdefghij'[pair // 10]}{'abcdefghij'[pair % 10]}w" + (
            "x" * (j // 10) + "abcdefghij"[j % 10]
        )

    rows = []
    for p in range(40):
        c = 42 + (p % 8)  # common prefix 42..49 of 60 tokens -> J 0.53..0.68
        common = [word(p, "c", j) for j in range(c)]
        ua = [word(p, "a", j) for j in range(60 - c)]
        ub = [word(p, "b", j) for j in range(60 - c)]
        rows.append((2 * p, " ".join(common + ua)))
        rows.append((2 * p + 1, " ".join(common + ub)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sig = minhash_signatures(docs).withColumn("sz", F.size("sh"))
    sh = {r.doc_id: set(r.sh) for r in sig.select("doc_id", "sh").collect()}

    # naive quadratic truth over the same hashed shingle sets
    truth = set()
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if round(j, 6) >= JACCARD_MIN:
                truth.add((a, b))
    assert len(truth) == 40  # exactly the engineered pairs sit >= 0.5

    cand = {
        (r.doc_a, r.doc_b)
        for r in _candidate_pairs_lsh(sig).collect()
    }
    caught = truth & cand
    assert 0 < len(caught) < len(truth), (len(caught), len(truth))


def test_sampled_recall_report_equals_full_restricted(spark):
    """The sampled audit form (VERDICT r10 #3) must be EXACTLY the full
    report restricted to within-sample pairs: band capture depends only
    on a pair's own signatures, truth is an exact prefix-filtered set,
    and the md5-bucket sample is a pure function of doc_id — so
    restricting the corpus first changes WHICH pairs are audited, never
    what the audit records for them."""
    import hashlib

    from aws_saas_etl_spark.operators.dedup import _lsh_recall_flagged
    from aws_saas_etl_spark.operators.sampling import (
        AUDIT_SAMPLE_PCT,
        AUDIT_SAMPLE_PCT_LOW,
    )
    from tests.conftest import SF_CORRECTNESS

    def bucket(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100

    full = {
        (r.doc_a, r.doc_b, r.jaccard_band, r.hit)
        for r in _lsh_recall_flagged(spark, SF_CORRECTNESS).collect()
    }
    # both registered fractions of the cost curve obey the same identity
    for pct in (AUDIT_SAMPLE_PCT, AUDIT_SAMPLE_PCT_LOW):
        sampled = {
            (r.doc_a, r.doc_b, r.jaccard_band, r.hit)
            for r in _lsh_recall_flagged(
                spark, SF_CORRECTNESS, sample_pct=pct
            ).collect()
        }
        expected = {
            t for t in full if bucket(t[0]) < pct and bucket(t[1]) < pct
        }
        assert sampled == expected, pct
        # the fixture must actually exercise the sample: some pairs
        # inside, some outside (otherwise the pin is vacuous)
        assert 0 < len(sampled) < len(full), pct
