"""Unit + property tests for the scalar function library.

The built-in-expression and Python implementations of sentiment must agree
on ANY input (they share a written spec, functions/sentiment.py) — checked
over a generated corpus in one Spark job, plus SURVEY §2a gaps: S7 (DDL /
saveAsTable) and P8 (row → JSON projection at the API boundary).
"""

from __future__ import annotations

import json
import random
import string

from pyspark.sql import functions as F

from aws_saas_etl_spark.functions.sentiment import (
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
    _score_one,
    sentiment_expr,
    sentiment_pandas_udf,
)


def _generated_corpus(n: int = 300) -> list[str | None]:
    """Deterministic adversarial corpus: lexicon words, punctuation noise,
    unicode, whitespace-only, empties, nulls, >4900-char tails."""
    rng = random.Random(42)
    vocab = (
        list(POSITIVE_WORDS)
        + list(NEGATIVE_WORDS)
        + ["the", "spark", "mixed", "Fast", "SLOW!", "dup,dup", "x" * 50, "ümlaut", "中文"]
    )
    out: list[str | None] = [None, "", "   ", "\t\n", "fast", "slow", "fast slow"]
    for _ in range(n):
        k = rng.randint(0, 40)
        words = [rng.choice(vocab) for _ in range(k)]
        sep = rng.choice([" ", "  ", ", ", ".", "-", "\n"])
        text = sep.join(words)
        if rng.random() < 0.05:
            text = text + " " + "pad " * 2500 + rng.choice(["slow", "fast"])
        out.append(text)
    return out


def test_sentiment_expr_matches_python_spec(spark):
    corpus = _generated_corpus()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "id BIGINT, t STRING"
    )
    got = {
        r["id"]: (r["e"], r["u"])
        for r in df.select(
            "id",
            sentiment_expr("t").alias("e"),
            sentiment_pandas_udf(F.col("t")).alias("u"),
        ).collect()
    }
    for i, t in enumerate(corpus):
        expected = _score_one(t)
        assert got[i][0] == expected, f"expr mismatch on {t!r}"
        assert got[i][1] == expected, f"udf mismatch on {t!r}"


def test_sentiment_sql_registration(spark):
    from aws_saas_etl_spark.functions.sentiment import register_sql_udf

    register_sql_udf(spark, "sentiment_t")
    spark.createDataFrame([("fast good",), ("slow bad",)], "t STRING").createOrReplaceTempView(
        "sent_in"
    )
    rows = spark.sql("SELECT sentiment_t(t) AS s FROM sent_in ORDER BY s").collect()
    assert [r["s"] for r in rows] == ["NEGATIVE", "POSITIVE"]


def test_text_functions_edge_cases(spark):
    from aws_saas_etl_spark.functions import text as T

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "zzz"), (4, "The THE the"), (5, "a-b_c 1d2")],
        "id BIGINT, t STRING",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            T.token_count("t").alias("n"),
            T.distinct_token_count("t").alias("d"),
            T.alpha_ratio("t").alias("ar"),
            T.quality_score("t").alias("q"),
            T.language_id("t").alias("lang"),
        ).collect()
    }
    assert rows[1]["n"] == 0 and rows[1]["q"] == 0.0
    assert rows[2]["n"] == 0
    assert rows[3]["n"] == 1 and rows[3]["ar"] == 1.0
    assert rows[4]["n"] == 3 and rows[4]["d"] == 1  # case-folded
    assert rows[5]["n"] == 4  # a, b, c, d split on non-alpha
    assert rows[4]["lang"] == "en"  # 'the' is an en stopword
    assert rows[3]["lang"] == "und"


def test_ddl_save_as_table_roundtrip(spark, tmp_path):
    """S7 parity: the reference's create_all() → Spark catalog DDL."""
    spark.sql("CREATE DATABASE IF NOT EXISTS etl_meta")
    df = spark.createDataFrame([(1, "f.csv", "Pending")], "id BIGINT, filename STRING, status STRING")
    df.write.mode("overwrite").saveAsTable("etl_meta.jobs_t")
    spark.sql(
        "CREATE TABLE IF NOT EXISTS etl_meta.jobs_t (id BIGINT, filename STRING, status STRING)"
    )  # idempotent, like create_all()
    back = spark.sql("SELECT * FROM etl_meta.jobs_t")
    assert back.count() == 1
    assert "jobs_t" in [t.name for t in spark.catalog.listTables("etl_meta")]
    spark.sql("DROP TABLE etl_meta.jobs_t")
    spark.sql("DROP DATABASE etl_meta")


def test_row_to_json_projection(spark):
    """P8 parity: the reference builds {id, filename, status, ...} dicts
    for its API response (app.py:199-208) — Spark-side it's toJSON()."""
    df = spark.createDataFrame(
        [(7, "sales_data_2024.csv", "Completed")],
        "id BIGINT, filename STRING, status STRING",
    )
    payload = [json.loads(s) for s in df.toJSON().collect()]
    assert payload == [
        {"id": 7, "filename": "sales_data_2024.csv", "status": "Completed"}
    ]


def test_connected_components_chain_and_islands(spark):
    """CC invariants on a synthetic edge list: a transitive chain
    (1-2, 2-3, 3-4) collapses to one component labeled by its min node,
    an island pair (10-11) stays separate, and re-running is idempotent."""
    from aws_saas_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "src BIGINT, dst BIGINT"
    )
    got = {
        (r.node, r.comp) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
    again = {(r.node, r.comp) for r in connected_components(edges).collect()}
    assert again == got


def test_duplicate_clusters_invariants(spark):
    """Every LSH pair's endpoints land in one cluster; cluster_id is the
    min member; n_removed counts everything but the keeper."""
    from aws_saas_etl_spark.operators.dedup import duplicate_clusters, minhash_lsh_pairs
    from tests.conftest import SF_SMOKE

    pairs = [(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(spark, SF_SMOKE).collect()]
    clusters = duplicate_clusters(spark, SF_SMOKE).collect()
    # member_doc_ids is a comma-joined string (driver canonicalizer can't
    # hash list cells) — parse it back for the invariant checks.
    members = {r.cluster_id: [int(d) for d in r.member_doc_ids.split(",")] for r in clusters}
    member_to_cluster = {
        d: r.cluster_id for r in clusters for d in members[r.cluster_id]
    }
    for a, b in pairs:
        assert member_to_cluster[a] == member_to_cluster[b]
    for r in clusters:
        assert r.cluster_id == min(members[r.cluster_id])
        assert r.keeper_doc_id == r.cluster_id
        assert r.n_removed == r.n_members - 1
        assert r.n_members >= 2


def test_clusters_incremental_merge_equals_full_recompute(spark):
    """The incremental cluster-merge (stored base assignment as star
    edges + delta-only pair generation) must reproduce the FULL
    pairs→CC recompute bit-for-bit — the invariant incremental dedup
    state lives on, same contract events_incremental_hourly_merge pins
    for rollups. Row-identical including member lists and labels."""
    from aws_saas_etl_spark.operators.dedup import (
        clusters_incremental_merge,
        duplicate_clusters_exact,
    )
    from tests.conftest import SF_SMOKE

    inc = [tuple(r) for r in clusters_incremental_merge(spark, SF_SMOKE).collect()]
    full = [tuple(r) for r in duplicate_clusters_exact(spark, SF_SMOKE).collect()]
    assert inc == full
    assert inc  # non-vacuous: the smoke corpus has near-dup clusters


def test_tag_arrivals_matches_the_in_plan_percentile_cut(spark):
    """``_tag_arrivals`` compares doc_id against the session's one
    ``delta_doc_cut`` double; its rows equal the old form's, which joined
    the shingle-weighted percentile in-plan as a broadcast 1-row frame
    (kept here as the reference). Both compare bigint > double."""
    from pyspark.sql import functions as F

    from aws_saas_etl_spark.operators.dedup import (
        DELTA_DOC_FRACTION,
        _shingle_table,
        _tag_arrivals,
    )
    from tests.conftest import SF_SMOKE

    sh = _shingle_table(spark, SF_SMOKE)
    cutoff = sh.agg(F.percentile("doc_id", 1.0 - DELTA_DOC_FRACTION).alias("cut"))
    old = (
        sh.crossJoin(F.broadcast(cutoff))
        .withColumn("is_new", F.col("doc_id") > F.col("cut"))
        .drop("cut")
    )
    new = _tag_arrivals(spark, SF_SMOKE)
    assert new.columns == old.columns

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    got = rows(new)
    assert got == rows(old)
    flags = {r.is_new for r in new.select("is_new").distinct().collect()}
    assert flags == {True, False}  # non-vacuous: both slices present


def test_merge_delta_unites_base_clusters_via_arrival(spark):
    """The hard incremental case: an arriving document that bridges TWO
    existing clusters must unite them under the global min label — the
    'merged clusters re-labeled' semantics, pinned on a constructed
    corpus where the bridge is known (fixture corpora exercise it only
    incidentally). Docs 1,2 share one exact text; 5,6 share another; doc
    9 (the arrival — top decile by id) contains BOTH texts, so its
    shingle set overlaps each cluster at Jaccard ≥ 0.4... rather than
    relying on thresholds, the merge is driven directly through
    _merge_delta_into_labels with explicit star edges + delta pairs."""
    from pyspark.sql import functions as F

    from aws_saas_etl_spark.operators.dedup import connected_components

    # stored assignment: {1,2} labeled 1, {5,6} labeled 5
    base = spark.createDataFrame([(1, 1), (2, 1), (5, 5), (6, 5)], "node long, comp long")
    star = base.select(F.col("node").alias("doc_a"), F.col("comp").alias("doc_b"))
    # delta pairs: arrival 9 matches a NON-representative member of each
    # cluster (2 and 6) — the case a representatives-only shortcut misses
    delta = spark.createDataFrame([(2, 9), (6, 9)], "doc_a long, doc_b long")
    merged = connected_components(
        star.unionByName(delta), src="doc_a", dst="doc_b"
    )
    got = {(r.node, r.comp) for r in merged.collect()}
    assert got == {(1, 1), (2, 1), (5, 1), (6, 1), (9, 1)}


def test_cluster_aware_splits_have_zero_leakage(spark):
    """The whole point of cluster-keyed splits: re-running the leakage
    audit's spread check against the cluster-aware assignment must find
    ZERO clusters straddling splits (the doc_id-keyed assignment that
    split_leakage_check audits does leak on the same fixtures — also
    asserted, so the repair is shown fixing a real contamination)."""
    from pyspark.sql import functions as F

    from aws_saas_etl_spark.operators.dedup import content_clusters
    from aws_saas_etl_spark.operators.sampling import (
        cluster_aware_splits,
        split_leakage_check,
    )
    from tests.conftest import SF_SMOKE

    comp = content_clusters(spark, SF_SMOKE)
    assigned = cluster_aware_splits(spark, SF_SMOKE)
    spread = (
        comp.select(F.col("node").alias("doc_id"), "comp")
        .join(assigned, "doc_id")
        .groupBy("comp")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .count()
    )
    assert spread == 0
    # and the naive doc_id-keyed split genuinely leaks on these fixtures
    leaked = (
        split_leakage_check(spark, SF_SMOKE)
        .agg(F.sum("leaked"))
        .collect()[0][0]
    )
    assert leaked > 0


def test_content_clusters_cached_per_session(spark):
    """content_clusters memoizes the pairs→CC chain per (session,
    sf_dir): the second call returns the SAME checkpointed DataFrame
    (no recompute), and all three consumers therefore share one chain."""
    from aws_saas_etl_spark.operators.dedup import content_clusters
    from tests.conftest import SF_SMOKE

    a = content_clusters(spark, SF_SMOKE)
    b = content_clusters(spark, SF_SMOKE)
    assert a is b


def test_supplier_pagerank_invariants(spark):
    """PageRank sanity: deterministic reruns (decimal accumulation), ranks
    >= the teleport floor, and a supplier with strictly more weighted
    in-trade than another outranks it in a 2-customer toy graph."""
    from aws_saas_etl_spark.operators.graph import pagerank, supplier_pagerank
    from tests.conftest import SF_SMOKE

    got = supplier_pagerank(spark, SF_SMOKE).collect()
    assert got
    again = supplier_pagerank(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]
    assert all(r.pagerank >= 0.15 - 1e-9 for r in got)

    # toy: both customers buy from s1, only one from s2 -> rank(s1) > rank(s2)
    edges = spark.createDataFrame(
        [(-1, 1, 2.0), (-2, 1, 2.0), (-2, 2, 1.0),
         (1, -1, 2.0), (1, -2, 2.0), (2, -2, 1.0)],
        "src BIGINT, dst BIGINT, weight DOUBLE",
    )
    ranks = {r.node: float(r.rank) for r in pagerank(edges).collect()}
    assert ranks[1] > ranks[2]


def test_pagerank_tol_early_exit_and_lean_join_equivalence(spark):
    """tol-mode stops early at the requested precision (result close to the
    deep-budget fixpoint but computed with fewer rounds), and the
    all_nodes_have_in_edges fast path returns byte-identical ranks to the
    generic dangling-safe path on a graph where the guarantee holds."""
    from aws_saas_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 1.0), (3, 2, 1.0)],
        "src BIGINT, dst BIGINT, weight DOUBLE",
    )
    deep = {r.node: float(r.rank) for r in
            pagerank(edges, iters=60, all_nodes_have_in_edges=True).collect()}
    tol = {r.node: float(r.rank) for r in
           pagerank(edges, iters=60, tol=1e-3, all_nodes_have_in_edges=True).collect()}
    assert deep[2] > deep[1] == deep[3] > 0
    # stopped early (fewer rounds -> different, still-converging values) ...
    assert tol != deep
    # ... but within the geometric tail bound of the requested tolerance
    assert all(abs(tol[n] - deep[n]) < 2e-2 for n in deep)

    lean = {r.node: float(r.rank) for r in
            pagerank(edges, iters=6, all_nodes_have_in_edges=True).collect()}
    generic = {r.node: float(r.rank) for r in pagerank(edges, iters=6).collect()}
    assert lean == generic


def test_pagerank_iters_resolved_at_call_time(spark, monkeypatch):
    """Regression: iters defaulted via `iters=PR_ITERS` in the signature
    once bound the value at def time, silently ignoring PR_ITERS edits —
    which is how an earlier convergence measurement went wrong."""
    from aws_saas_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 1.0), (3, 2, 1.0)],
        "src BIGINT, dst BIGINT, weight DOUBLE",
    )
    r_default = {r.node: float(r.rank) for r in graph.pagerank(edges).collect()}
    monkeypatch.setattr(graph, "PR_ITERS", 40)
    r_forty = {r.node: float(r.rank) for r in graph.pagerank(edges).collect()}
    assert r_default != r_forty  # deeper budget must actually change values


def test_token_budget_sample_greedy_prefix_semantics(spark, monkeypatch):
    """The bucket-decomposed budget sampler must implement exact greedy-
    prefix semantics: (a) with an unlimited budget every doc is selected
    as a full bucket; (b) with the real budget, selected docs are exactly
    the greedy prefix over (n_chars desc, doc_id asc) and the token total
    fits the budget while the next doc would not."""
    from aws_saas_etl_spark.operators import curation
    from tests.conftest import SF_SMOKE

    monkeypatch.setattr(curation, "TOKEN_BUDGET", 10**12)
    all_rows = curation.corpus_token_budget_sample(spark, SF_SMOKE).collect()
    assert all_rows and all(r.selection == "full_bucket" for r in all_rows)

    monkeypatch.setattr(curation, "TOKEN_BUDGET", 10_000)
    got = curation.corpus_token_budget_sample(spark, SF_SMOKE).collect()
    # reference: greedy prefix computed driver-side from the full list
    ordered = sorted(all_rows, key=lambda r: (-r.n_chars, r.doc_id))
    budget, prefix = 10_000, []
    spent = 0
    for r in ordered:
        if spent + r.n_tokens > budget:
            break
        spent += r.n_tokens
        prefix.append(r.doc_id)
    assert sorted(r.doc_id for r in got) == sorted(prefix)
    assert sum(r.n_tokens for r in got) == spent <= budget


def test_cusum_window_rewrite_matches_direct_recurrence(spark):
    """The prefix-sum-minus-running-min rewrite must equal the literal
    recurrence S_t = max(0, S_{t-1} + d_t) computed driver-side from the
    same hourly counts."""
    from collections import defaultdict

    from aws_saas_etl_spark.operators.events import (
        CUSUM_SLACK,
        events_cusum_changepoints,
    )
    from tests.conftest import SF_SMOKE

    rows = events_cusum_changepoints(spark, SF_SMOKE).collect()
    assert rows
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    for et, series in by_type.items():
        series.sort(key=lambda r: r.hour)
        counts = [r.c for r in series]
        n = len(counts)
        mean = sum(counts) / n
        var = (sum(c * c for c in counts) - sum(counts) ** 2 / n) / (n - 1)
        sigma = var ** 0.5
        s = 0.0
        for r, c in zip(series, counts):
            s = max(0.0, s + (c - (mean + CUSUM_SLACK * sigma)))
            assert abs(r.cusum_sigma - round(s / sigma, 4)) <= 1e-4, (
                f"{et}@{r.hour}: {r.cusum_sigma} != {s / sigma}"
            )


def test_dsir_weights_tilt_toward_target_lang(spark):
    """DSIR sanity on the smoke corpus: the mean per-feature importance
    log-ratio of target-language docs must exceed the non-target mean —
    the whole point of importance resampling (target-domain n-grams get
    positive weight, everything else negative). Also pins the smoothing
    identity: a corpus where target == raw would score ~0 everywhere, so
    the spread being strictly positive is non-vacuous."""
    from aws_saas_etl_spark.operators.curation import (
        DSIR_TARGET_LANG,
        dsir_importance_weights,
    )
    from tests.conftest import SF_SMOKE

    rows = dsir_importance_weights(spark, SF_SMOKE).collect()
    assert rows
    per_feat = {}
    for r in rows:
        per_feat.setdefault(r.lang == DSIR_TARGET_LANG, []).append(
            r.dsir_logratio / r.n_feats
        )
    assert True in per_feat and False in per_feat
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    assert mean(per_feat[True]) > mean(per_feat[False])


def test_training_manifest_invariants(spark):
    """Pins the manifest contract on the smoke corpus: (1) positions are
    contiguous 1..n within every (split, shard) — a loader can stream a
    shard by seeking pos; (2) at most one manifest row per content
    cluster — keep-best actually deduplicated; (3) every manifest doc
    passed the filter pipeline."""
    from aws_saas_etl_spark.operators.curation import training_manifest
    from aws_saas_etl_spark.operators.dedup import content_clusters
    from aws_saas_etl_spark.operators.textops import doc_filter_pipeline
    from tests.conftest import SF_SMOKE

    rows = training_manifest(spark, SF_SMOKE).collect()
    assert rows
    by_shard = {}
    for r in rows:
        by_shard.setdefault((r.split, r.shard), []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))

    comp = {
        r.node: r.comp for r in content_clusters(spark, SF_SMOKE).collect()
    }
    clusters = [comp.get(r.doc_id, r.doc_id) for r in rows]
    assert len(clusters) == len(set(clusters))

    keep = {
        r.doc_id
        for r in doc_filter_pipeline(spark, SF_SMOKE).collect()
        if r.verdict == "keep"
    }
    assert {r.doc_id for r in rows} <= keep


def test_cluster_deletion_repair_invariants(spark):
    """Pins the deletion-repair contract on the smoke corpus: (1) every
    returned cluster actually lost >=1 member to the deletion list and
    only those clusters appear; (2) new_keeper is a surviving
    (non-deleted) member of its own cluster, NULL exactly when the whole
    cluster is deleted; (3) keeper_changed is true iff the keeper was
    deleted (the keep-best rank of survivors is a suffix of the full
    rank, so an undeleted old keeper always stays keeper)."""
    from aws_saas_etl_spark.operators.curation import cluster_deletion_repair
    from aws_saas_etl_spark.operators.similarity import DELETION_MOD
    from aws_saas_etl_spark.operators.dedup import content_clusters
    from tests.conftest import SF_SMOKE

    rows = cluster_deletion_repair(spark, SF_SMOKE).collect()
    assert rows
    members = {}
    for r in content_clusters(spark, SF_SMOKE).collect():
        members.setdefault(r.comp, set()).add(r.node)

    returned = {r.cluster_id for r in rows}
    affected = {
        c
        for c, ns in members.items()
        if any(n % DELETION_MOD == 0 for n in ns)
    }
    assert returned == affected

    for r in rows:
        ns = members[r.cluster_id]
        assert r.n_members == len(ns)
        deleted = {n for n in ns if n % DELETION_MOD == 0}
        assert r.n_deleted == len(deleted)
        assert r.old_keeper in ns
        if deleted == ns:
            assert r.new_keeper is None and r.keeper_changed
        else:
            assert r.new_keeper in ns - deleted
            assert r.keeper_changed == (r.old_keeper in deleted)


def test_nb_scores_learns_separable_vocab(spark):
    """On a constructed corpus whose classes use disjoint vocabulary the
    NB fit must reach perfect in-sample accuracy with positive margins —
    a broken likelihood/prior/argmax collapses to the majority class.
    (The synthetic fixture cannot test learning: every lang draws from
    one shared token pool, so its in-sample accuracy is the majority
    floor; fixture-level correctness is carried by the oracle twin.)"""
    from aws_saas_etl_spark.operators.curation import nb_lang_scores, nb_scores
    from tests.conftest import SF_SMOKE

    words = {
        "en": ["dog", "cat", "house", "tree"],
        "de": ["hund", "katze", "haus", "baum"],
        "fr": ["chien", "chat", "maison", "arbre"],
    }
    rows_in = [
        (i * 10 + j, lang, " ".join(ws[j % 4] for _ in range(6)) + " " + ws[(j + 1) % 4])
        for i, (lang, ws) in enumerate(sorted(words.items()))
        for j in range(8)
    ]
    docs = spark.createDataFrame(rows_in, "doc_id long, lang string, text string")
    out = nb_scores(docs).collect()
    assert len(out) == len(rows_in)
    assert all(r.is_correct for r in out)
    assert all(r.margin > 0 for r in out)

    # fixture run: structural invariants only (shared token pool)
    fx = nb_lang_scores(spark, SF_SMOKE).collect()
    assert fx
    assert all(r.margin >= 0 for r in fx)
    langs = {r.lang for r in fx}
    assert all(r.pred_lang in langs for r in fx)


def test_incremental_manifest_reuses_untouched_shards(spark):
    """Beyond the oracle equality (driver-checked), pin the REUSE claim:
    the incremental manifest must produce bit-identical rows to the full
    recompute (sanity duplicate of the oracle, cheap at smoke scale) AND
    its stored base manifest must actually contribute rows verbatim —
    every (split, shard) group untouched by the delta keeps its stored
    positions."""
    from aws_saas_etl_spark.operators.curation import (
        training_manifest,
        training_manifest_incremental,
    )
    from tests.conftest import SF_SMOKE

    full = {tuple(r) for r in training_manifest(spark, SF_SMOKE).collect()}
    inc = {tuple(r) for r in training_manifest_incremental(spark, SF_SMOKE).collect()}
    assert inc == full


def test_deletion_repair_manifest_equals_full_recompute(spark):
    """The deletion-repaired manifest must equal the manifest computed
    from scratch over the surviving corpus — including the hazards the
    repair handles specially: promoted exact-dup keepers and clusters
    that split when their min-id hub was deleted. The recompute here
    reuses the batch pipeline core over a filtered docs frame."""
    from aws_saas_etl_spark.catalog import ensure_parallelism, load_tables
    from aws_saas_etl_spark.operators.curation import (
        _manifest_frame,
        training_manifest_deletion_repair,
    )
    from aws_saas_etl_spark.operators.dedup import (
        _prefix_candidates,
        _shingle_table,
        _verify_pairs,
        connected_components,
    )
    from aws_saas_etl_spark.operators.similarity import DELETION_MOD
    from aws_saas_etl_spark.operators.textops import filter_verdicts
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    inc = {
        tuple(r)
        for r in training_manifest_deletion_repair(spark, SF_SMOKE).collect()
    }

    docs = (
        ensure_parallelism(load_tables(spark, SF_SMOKE).documents)
        .na.drop("any")
        .where(F.col("doc_id") % DELETION_MOD != 0)
    )
    keep = filter_verdicts(docs).where(F.col("verdict") == "keep")
    sh = _shingle_table(spark, SF_SMOKE).where(
        F.col("doc_id") % DELETION_MOD != 0
    )
    pairs = _verify_pairs(_prefix_candidates(sh, 0.4), sh, 0.4)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    full = {
        tuple(r)
        for r in _manifest_frame(docs, keep, comp)
        .select("doc_id", "split", "shard", "pos", "n_tokens")
        .collect()
    }
    assert inc == full


def test_minhash_signature_matches_pure_python(spark):
    """Third-implementation pin for the r6 engine-neutral rehash: given
    the shingle STRINGS Spark produces, a pure-Python hashlib/md5 +
    31-bit-affine reimplementation must reproduce the hashed-shingle
    arrays and all 64 permutation mins bit-for-bit. This isolates the
    md60/permutation layer (what the DuckDB twin also recomputes) from
    the tokenizer, which has its own fuzzed parity suite."""
    import hashlib

    from aws_saas_etl_spark.catalog import ensure_parallelism, load_tables
    from aws_saas_etl_spark.operators.dedup import (
        _M31,
        MINHASH_A,
        MINHASH_B,
        MINHASH_HASHES,
        minhash_signatures,
        shingles,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    docs = ensure_parallelism(load_tables(spark, SF_SMOKE).documents).where(
        F.col("doc_id") < 40
    )
    sig_rows = {r.doc_id: r for r in minhash_signatures(docs).collect()}
    assert sig_rows
    shingle_rows = docs.select(
        "doc_id", shingles("text").alias("gr")
    ).collect()

    def md60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    checked = 0
    for r in shingle_rows:
        grams = r.gr or []
        hashes = sorted(md60(g) for g in grams)
        if not hashes:
            assert r.doc_id not in sig_rows  # dropped at the explode
            continue
        got = sig_rows[r.doc_id]
        assert list(got.sh) == hashes
        for i in range(MINHASH_HASHES):
            want = min(
                (MINHASH_A[i] * (h & _M31) + MINHASH_B[i]) % _M31 for h in hashes
            )
            assert got[f"h{i}"] == want, (r.doc_id, i)
        checked += 1
    assert checked >= 10


def test_decontaminated_manifest_semantics(spark):
    """Pins the decontamination contract on the smoke corpus: (1) the
    gate is non-vacuous (the fixture contains at least one train↔eval
    rare-fingerprint overlap); (2) only TRAIN rows are ever removed —
    val/test rows survive verbatim; (3) surviving rows keep their
    relative order (positions close ranks); (4) removed docs are exactly
    those with a ≥-threshold contamination pair against a val/test doc."""
    from aws_saas_etl_spark.operators.curation import (
        training_manifest,
        training_manifest_decontaminated,
    )
    from aws_saas_etl_spark.operators.textops import doc_contamination_pairs
    from tests.conftest import SF_SMOKE

    full = {r.doc_id: r for r in training_manifest(spark, SF_SMOKE).collect()}
    dec = {r.doc_id: r for r in
           training_manifest_decontaminated(spark, SF_SMOKE).collect()}
    removed = set(full) - set(dec)
    assert removed, "fixture produced no contamination — gate untested"
    assert all(full[d].split == "train" for d in removed)

    # expected removals from the pairs query restricted train x eval
    split = {d: r.split for d, r in full.items()}
    expect = set()
    for p in doc_contamination_pairs(spark, SF_SMOKE).collect():
        a, b = p.doc_a, p.doc_b
        if split.get(a) == "train" and split.get(b) in ("val", "test"):
            expect.add(a)
        if split.get(b) == "train" and split.get(a) in ("val", "test"):
            expect.add(b)
    assert removed == expect

    for (s, sh) in {(r.split, r.shard) for r in dec.values()}:
        old = [r.doc_id for r in sorted(full.values(), key=lambda r: r.pos)
               if (r.split, r.shard) == (s, sh) and r.doc_id in dec]
        new = [r.doc_id for r in sorted(dec.values(), key=lambda r: r.pos)
               if (r.split, r.shard) == (s, sh)]
        assert old == new


def test_manifest_deletion_churn_invariants(spark):
    """Churn accounting must close: statuses partition every stored row,
    removed rows are exactly the stored rows whose doc is deleted OR
    whose repaired placement vanished, and a shard with zero churn needs
    no rewrite (cross-checked against the repaired manifest itself)."""
    from aws_saas_etl_spark.operators.curation import (
        manifest_deletion_churn,
        training_manifest,
        training_manifest_deletion_repair,
    )
    from tests.conftest import SF_SMOKE

    rows = manifest_deletion_churn(spark, SF_SMOKE).collect()
    assert rows
    assert any(r.n_removed > 0 for r in rows), "deletion list hit nothing"
    for r in rows:
        assert r.n_docs == r.n_removed + r.n_moved + r.n_stable
        assert r.tokens_removed >= r.n_removed  # every doc has >= 1 token
    before = {
        r.doc_id: (r.split, r.shard, r.pos)
        for r in training_manifest(spark, SF_SMOKE).collect()
    }
    after = {
        r.doc_id: (r.split, r.shard, r.pos)
        for r in training_manifest_deletion_repair(spark, SF_SMOKE).collect()
    }
    n_removed = sum(1 for d in before if d not in after)
    n_stable = sum(1 for d, p in before.items() if after.get(d) == p)
    assert n_removed == sum(r.n_removed for r in rows)
    assert n_stable == sum(r.n_stable for r in rows)


def test_duplicate_span_removal_agrees_with_coverage_metric(spark):
    """Pins the rewrite against the measurement: (1) kept + removed =
    n_tokens; (2) removed_tokens per doc equals doc_crossdoc_duplication's
    dup_tokens EXACTLY (the two operators share the duplicated-gram
    definition and the LEAD-disjoint coverage, so the rewrite must cut
    precisely the tokens the metric counts); (3) the rebuilt text
    re-tokenizes to kept_tokens tokens; (4) untouched docs round-trip
    their token stream verbatim; (5) the fixture is non-vacuous."""
    from aws_saas_etl_spark.operators.textops import (
        doc_crossdoc_duplication,
        doc_duplicate_span_removal,
    )
    from tests.conftest import SF_SMOKE

    rem = {r.doc_id: r for r in doc_duplicate_span_removal(spark, SF_SMOKE).collect()}
    cov = {r.doc_id: r for r in doc_crossdoc_duplication(spark, SF_SMOKE).collect()}
    assert set(rem) == set(cov)
    assert any(r.removed_tokens > 0 for r in rem.values()), "vacuous fixture"
    for d, r in rem.items():
        assert r.kept_tokens + r.removed_tokens == r.n_tokens
        assert r.removed_tokens == cov[d].dup_tokens, d
        n_rebuilt = len([t for t in r.clean_text.split(" ") if t])
        assert n_rebuilt == r.kept_tokens, d

    # untouched docs keep their exact token stream
    import re

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    text = {r.doc_id: r.text for r in docs if r.doc_id is not None and r.text is not None}
    checked = 0
    for d, r in rem.items():
        if r.removed_tokens == 0:
            toks = [t for t in re.split("[^a-z]+", text[d].lower()) if t]
            assert " ".join(toks) == r.clean_text, d
            checked += 1
    assert checked > 0


def test_quality_logreg_matches_python_reference_and_learns(spark):
    """Trains the GD logistic classifier on a CONSTRUCTED separable
    corpus (stopword-rich 'en' vs digit-laden 'xx' — the fixture's shared
    token pool can't separate, see logreg_scores docstring) and pins:
    (1) scores/preds equal an independent pure-Python replica of the
        quantized-GD arithmetic to the emitted 6dp;
    (2) the classifier actually learns: >= 90% in-sample accuracy;
    (3) both classes are predicted (non-degenerate decision boundary).
    """
    import math
    import re

    from aws_saas_etl_spark.functions.text import LANG_STOPWORDS
    from aws_saas_etl_spark.operators.curation import (
        LOGREG_ITERS,
        LOGREG_LR,
        LOGREG_P_SCALE,
        LOGREG_X_SCALE,
        logreg_scores,
    )

    stops = list(LANG_STOPWORDS["en"])
    rows = []
    for i in range(30):
        filler = " ".join(f"word{'abcde'[j % 5]}{'fghij'[i % 5]}" for j in range(6))
        rows.append((i, "en", " ".join(stops[: 5 + (i % 5)]) + " " + filler))
        rows.append(
            (100 + i, "xx", ("zqv 12345 67!! " * (3 + i % 4)) + f"kqz{'vwxyz'[i % 5]}")
        )
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.doc_id: r for r in logreg_scores(docs).collect()}

    # pure-Python replica of the quantized full-batch GD
    def feats(text, lang):
        tk = [t for t in re.split("[^a-z]+", text.lower()) if t]
        sw = (sum(1 for t in tk if t in stops) / len(tk)) if tk else 0.0
        alpha = (
            sum(1 for c in text if c.isalpha() and c.isascii()) / len(text)
            if text
            else 0.0
        )
        mean_len = (sum(len(t) for t in tk) / len(tk)) if tk else 0.0
        x = [
            round(sw * LOGREG_X_SCALE),
            round(alpha * LOGREG_X_SCALE),
            round((mean_len / 10.0) * LOGREG_X_SCALE),
            LOGREG_X_SCALE,
        ]
        return x, 1 if lang == "en" else 0

    data = [feats(t, lg) for _, lg, t in rows]
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(LOGREG_ITERS):
        s = [0, 0, 0, 0]
        for x, y in data:
            z = ((w[0] * (x[0] / 1e4) + w[1] * (x[1] / 1e4)) + w[2] * (x[2] / 1e4)) + w[3] * (x[3] / 1e4)
            pq = round((1.0 / (1.0 + math.exp(-z))) * LOGREG_P_SCALE)
            for j in range(4):
                s[j] += (pq - y * LOGREG_P_SCALE) * x[j]
        n = len(data)
        w = [
            w[j] - LOGREG_LR * (s[j] / (n * float(LOGREG_P_SCALE * LOGREG_X_SCALE)))
            for j in range(4)
        ]

    correct = 0
    preds = set()
    for (doc_id, lang, text), (x, y) in zip(rows, data):
        z = ((w[0] * (x[0] / 1e4) + w[1] * (x[1] / 1e4)) + w[2] * (x[2] / 1e4)) + w[3] * (x[3] / 1e4)
        p = 1.0 / (1.0 + math.exp(-z))
        r = got[doc_id]
        assert r.label == y
        assert abs(r.score - p) < 1.5e-6, (doc_id, r.score, p)
        assert r.pred == (1 if p >= 0.5 else 0)
        preds.add(r.pred)
        correct += int(r.pred == y)
    assert correct / len(rows) >= 0.9, correct
    assert preds == {0, 1}


def test_bpe_merges_hand_computable_corpus(spark):
    """Pins BPE merge learning on the classic hug/pug/pun/bun/hugs corpus
    with hand-computed pair counts: (u,g)=20 then (u,n)=16 then, after
    'ug' becomes a symbol, (h,ug)=15 — the multi-char second-round symbol
    proves merges compose."""
    from aws_saas_etl_spark.operators.textops import bpe_merges

    words = [("hug", 10), ("pug", 5), ("pun", 12), ("bun", 4), ("hugs", 5)]
    text = " ".join(w for w, n in words for _ in range(n))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_freq)
        for r in bpe_merges(docs, 3).collect()
    ]
    assert got == [
        (1, "u", "g", "ug", 20),
        (2, "u", "n", "un", 16),
        (3, "h", "ug", "hug", 15),
    ], got


def test_bpe_tokenize_invariants(spark):
    """Pins the apply half against the trainer on the smoke corpus:
    bpe_symbols = char_symbols - (merged occurrences), so per doc
    char_symbols >= bpe_symbols >= char_symbols - n_merges * coverage;
    and a doc containing ONLY single-char tokens is incompressible."""
    from aws_saas_etl_spark.operators.textops import corpus_bpe_tokenize
    from tests.conftest import SF_SMOKE

    rows = corpus_bpe_tokenize(spark, SF_SMOKE).collect()
    assert rows
    compressed = 0
    for r in rows:
        assert 0 < r.bpe_symbols <= r.char_symbols
        assert abs(r.compression - round(r.bpe_symbols / r.char_symbols, 6)) < 1e-9
        compressed += int(r.bpe_symbols < r.char_symbols)
    assert compressed > 0, "no document compressed — merges never applied"


def test_quality_filtered_manifest_semantics(spark):
    """Pins the calibration-driven quality gate's contract on the smoke
    corpus: (1) the gate is non-vacuous (some train rows removed);
    (2) ONLY train rows are removed — val/test survive verbatim;
    (3) the cutoff is READ FROM THE CALIBRATION TABLE — removed train
    docs are exactly those at or below the lower edge of the lowest
    score-rank decile whose empirical label rate clears
    QUALITY_GATE_MIN_RATE, recomputed here from first principles
    (numpy linear-interpolation percentiles = Spark percentile =
    DuckDB quantile_cont), and the chosen decile is pinned;
    (4) survivors keep their relative order (positions close ranks)."""
    import numpy as np

    from aws_saas_etl_spark.operators.curation import (
        QUALITY_GATE_MIN_RATE,
        doc_quality_logreg,
        training_manifest,
        training_manifest_quality_filtered,
    )
    from tests.conftest import SF_SMOKE

    full = {r.doc_id: r for r in training_manifest(spark, SF_SMOKE).collect()}
    filt = {
        r.doc_id: r
        for r in training_manifest_quality_filtered(spark, SF_SMOKE).collect()
    }
    removed = set(full) - set(filt)
    assert removed, "no train rows removed — gate untested"
    assert all(full[d].split == "train" for d in removed)

    scored = {
        r.doc_id: (r.label, r.score)
        for r in doc_quality_logreg(spark, SF_SMOKE).collect()
    }
    vals = np.array([s for _, s in scored.values()])
    cuts = np.percentile(vals, [10 * i for i in range(1, 10)])
    dec_of = lambda s: int((s > cuts).sum())  # noqa: E731
    rates = {}
    for lab, s in scored.values():
        n, pos = rates.get(dec_of(s), (0, 0))
        rates[dec_of(s)] = (n + 1, pos + lab)
    qualifying = sorted(
        d
        for d, (n, pos) in rates.items()
        if round(pos / n, 6) >= QUALITY_GATE_MIN_RATE
    )
    assert qualifying, "no decile clears the bar — gate vacuously untested"
    cut_dec = qualifying[0]
    assert cut_dec == 2, rates  # the pinned chosen decile on this fixture
    thr = cuts[cut_dec - 1]
    expect = {
        d
        for d, r in full.items()
        if r.split == "train" and scored[d][1] <= thr
    }
    assert removed == expect

    # survivors close ranks within (split, shard), preserving stored order
    by_shard = {}
    for d, r in sorted(full.items(), key=lambda kv: (kv[1].split, kv[1].shard, kv[1].pos)):
        if d in filt:
            by_shard.setdefault((r.split, r.shard), []).append(d)
    for (split, shard), docs_in in by_shard.items():
        got = [d for d, r in sorted(filt.items(), key=lambda kv: kv[1].pos)
               if r.split == split and r.shard == shard
               for r in [filt[d]]]
        assert got == docs_in, (split, shard)


def test_bpe_staleness_report_hand_computable(spark, tmp_path):
    """Pins the tokenizer staleness report end-to-end on an engineered
    4-doc corpus where every cell is hand-computable. Base slice =
    first half (docs 0,1: hug×4 pug×2 each) learns [ug, hug, pug];
    the grown corpus adds docs 2,3 (bed×20 each) so the fresh fit
    learns [be, bed, ug] — one shared rule at a DIFFERENT rank. Applied
    to the grown corpus: fresh syms 12+12+20+20=64, stale syms
    6+6+60+60=132, every doc drifts."""
    import os

    from aws_saas_etl_spark.operators.textops import bpe_staleness_report
    from aws_saas_etl_spark.catalog import TABLES, table_path
    from tests.conftest import SF_SMOKE

    sf_dir = str(tmp_path / "sf_bpe")
    os.makedirs(sf_dir)
    for name in TABLES:
        if name != "documents":
            os.symlink(table_path(SF_SMOKE, name), table_path(sf_dir, name))
    rows = [
        (0, "en", "hug hug hug hug pug pug"),
        (1, "en", "hug hug hug hug pug pug"),
        (2, "en", " ".join(["bed"] * 20)),
        (3, "en", " ".join(["bed"] * 20)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).coalesce(1).write.parquet(table_path(sf_dir, "documents"))

    (r,) = bpe_staleness_report(spark, sf_dir).collect()
    assert (
        r.n_rules,
        r.n_rules_same_rank,
        r.n_rules_shared,
        r.n_docs,
        r.n_docs_drifted,
        r.sum_syms_fresh,
        r.sum_syms_stale,
    ) == (3, 0, 1, 4, 4, 64, 132), tuple(r)


def test_span_cleaned_manifest_token_conservation(spark):
    """Pins the span-cleaned manifest composition on the smoke corpus:
    (1) token conservation — every row's n_tokens == kept_tokens +
    removed_tokens (the manifest's token_count and the rewrite's
    tokenization are the same function); (2) membership — exactly the
    base-manifest docs whose cleaned text is non-empty, in their
    original relative order with positions closing ranks; (3) the
    kept_tokens column agrees with the standalone rewrite."""
    from aws_saas_etl_spark.operators.curation import (
        training_manifest,
        training_manifest_span_cleaned,
    )
    from aws_saas_etl_spark.operators.textops import doc_duplicate_span_removal
    from tests.conftest import SF_SMOKE

    rows = training_manifest_span_cleaned(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_tokens == r.kept_tokens + r.removed_tokens, tuple(r)
        assert r.kept_tokens > 0

    base = {
        r.doc_id: r for r in training_manifest(spark, SF_SMOKE).collect()
    }
    cleaned = {
        r.doc_id: r for r in doc_duplicate_span_removal(spark, SF_SMOKE).collect()
    }
    expected_ids = {
        d for d in base if d in cleaned and cleaned[d].kept_tokens > 0
    }
    assert {r.doc_id for r in rows} == expected_ids
    for r in rows:
        assert r.kept_tokens == cleaned[r.doc_id].kept_tokens

    # positions close ranks: dense 1..n per (split, shard), original order
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.split, r.shard, r.pos)):
        by_shard[(r.split, r.shard)].append(r)
    for key, rs in by_shard.items():
        assert [r.pos for r in rs] == list(range(1, len(rs) + 1)), key
        base_pos = [base[r.doc_id].pos for r in rs]
        assert base_pos == sorted(base_pos), key


def test_bench_tail_preserves_control_and_top12():
    """The driver keeps only the LAST 2,000 chars of bench.py's output
    line — the session_control and top_12_slowest keys must sit inside
    that tail at CURRENT registry size, and stay there no matter how
    much the growing lists before them grow (VERDICT r11 #3). Built with
    a worst-case cold_warm covering EVERY batch query: if the tail
    survives that, any real memo-backed subset is safe."""
    import bench
    from aws_saas_etl_spark import registry

    qs = registry.queries()
    names = sorted(n for n in qs if not n.startswith("stream_"))
    timings = {n: 123.4567 for n in names}
    spreads = {n: 12.3456 for n in names}
    stream_bench = {
        n: {"drain_seconds": 123.4567, "input_rows_per_sec": 123456.7}
        for n in qs
        if n.startswith("stream_")
    }
    canary = {n: [123.4567, 12.3456] for n in names[:20]}
    cold_warm = {n: {"cold": 123.4567, "warm": 12.3456} for n in names}
    side_effecting = sorted(
        n for n in qs if getattr(qs[n], "side_effecting", False)
    )
    assert side_effecting  # the list the r11 verdict saw growing exists
    # worst-case interleaved cold/warm control: one reading per 5 pairs
    # over the every-batch-query cold_warm above, plus bookends
    cold_warm_control = {"after_0": 2.5012}
    for i in range(5, len(names) + 1, 5):
        cold_warm_control[f"after_{i}"] = 2.5012
    cold_warm_control["after_all"] = 2.5012
    line = bench.render_line(
        timings,
        spreads,
        0.1,
        stream_bench,
        {"events": 1_000_000, "documents": 50_000, "embeddings": 20_000,
         "documents_delta": 5_000, "custom_source": 12_345},
        canary,
        cold_warm,
        {"start": 2.4901, "mid": 2.8213, "end": 1.9807},
        side_effecting,
        cold_warm_control,
    )
    tail = line[-2000:]
    assert '"session_control"' in tail
    assert '"top_12_slowest"' in tail
    # and the control's values themselves survive, not just the key
    assert '"start": 2.4901' in tail
    # the interleaved cold/warm control (VERDICT r12 #3) must also sit in
    # the surviving tail — at least its trailing readings — so a
    # contaminated sweep is visible in BENCH_r{N}.json itself
    assert '"cold_warm_control"' in tail
    assert '"after_all": 2.5012' in tail


def test_bench_tail_survives_sizing_cache_list_and_last_run_file(tmp_path):
    """r14 additions (VERDICT r13 #6/#7): the ``sizing_cache_touched``
    growing list must sit BEFORE the fixed tail keys (never pushing
    session_control/top_12_slowest out of the preserved 2,000-char
    tail), and ``write_last_run`` must persist the complete JSON to a
    file the next round's comparison can read even when the driver
    truncates stdout."""
    import json

    import bench
    from aws_saas_etl_spark import registry

    qs = registry.queries()
    names = sorted(n for n in qs if not n.startswith("stream_"))
    line = bench.render_line(
        {n: 123.4567 for n in names},
        {n: 12.3456 for n in names},
        0.1,
        {
            n: {"drain_seconds": 123.4567, "input_rows_per_sec": 123456.7}
            for n in qs
            if n.startswith("stream_")
        },
        {"events": 1_000_000, "documents": 50_000, "embeddings": 20_000,
         "documents_delta": 5_000, "custom_source": 12_345},
        {n: [123.4567, 12.3456] for n in names[:20]},
        {n: {"cold": 123.4567, "warm": 12.3456} for n in names},
        {"start": 2.4901, "mid": 2.8213, "end": 1.9807},
        sorted(n for n in qs if getattr(qs[n], "side_effecting", False)),
        {"after_0": 2.5012, "after_all": 2.5012},
        sizing_cache_touched=names,  # worst case: every batch query
    )
    parsed = json.loads(line)
    assert parsed["sizing_cache_touched"] == names
    tail = line[-2000:]
    assert '"session_control"' in tail
    assert '"top_12_slowest"' in tail
    out = bench.write_last_run(line, path=str(tmp_path / "bench_last_run.json"))
    with open(out) as f:
        assert json.load(f) == parsed


def test_gopher_repetition_hand_computable(spark, tmp_path):
    """Pins every Gopher repetition rung on a 3-doc engineered corpus
    where each cell is hand-computed — including the rungs the driver
    fixture leaves degenerate (it is single-line and repeats no 5-gram
    within a doc): doc 0 exercises line/paragraph duplication + the
    top-n-gram masses, doc 1 a period-5 token stream whose every 5-gram
    is duplicated (coverage = 1.0), doc 2 the clean regime. The DuckDB
    oracle twin is run on the same corpus and must agree cell-for-cell."""
    import os

    import duckdb

    from aws_saas_etl_spark.catalog import TABLES, table_path
    from aws_saas_etl_spark.operators.textops import doc_gopher_repetition
    from aws_saas_etl_spark.oracles import DOC_GOPHER_REPETITION_SQL
    from tests.conftest import SF_SMOKE

    sf_dir = str(tmp_path / "sf_gopher")
    os.makedirs(sf_dir)
    for name in TABLES:
        if name != "documents":
            os.symlink(table_path(SF_SMOKE, name), table_path(sf_dir, name))
    rows = [
        # lines: [aa bb, aa bb, cc dd ee, xx yy, xx yy] -> 4/5 dup,
        # chars 20/28; paras: ["aa bb\naa bb\ncc dd ee", xx yy, xx yy]
        # -> 2/3 dup, chars 10/30; tokens (11, 32 joined chars):
        # top2 "aa bb"x2 mass 10, top3 distinct mass 8, top4 mass 11
        (0, "en", "src0", 34, "aa bb\naa bb\ncc dd ee\n\nxx yy\n\nxx yy"),
        # period-5 stream: every 5-gram duplicated -> coverage 15/15
        (1, "en", "src0", 29, "p q r s t p q r s t p q r s t"),
        # clean: 2 distinct lines, 1 para, all grams distinct
        (2, "en", "src0", 11, "aa bb\ncc dd"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long, text string"
    ).coalesce(1).write.parquet(table_path(sf_dir, "documents"))

    got = {
        r.doc_id: r for r in doc_gopher_repetition(spark, sf_dir).collect()
    }
    expected = {
        0: (5, 0.8, 0.714286, 3, 0.666667, 0.333333,
            0.3125, 0.25, 0.34375, 0.0),
        1: (1, 0.0, 0.0, 1, 0.0, 0.0,
            0.310345, 0.517241, 0.724138, 1.0),
        2: (2, 0.0, 0.0, 1, 0.0, 0.0,
            0.454545, 0.727273, 1.0, 0.0),
    }
    cols = (
        "n_lines", "dup_line_frac", "dup_line_char_frac",
        "n_paras", "dup_para_frac", "dup_para_char_frac",
        "top_2gram_char_frac", "top_3gram_char_frac",
        "top_4gram_char_frac", "dup_5gram_token_frac",
    )
    assert set(got) == set(expected)
    for d, exp in expected.items():
        assert tuple(got[d][c] for c in cols) == exp, (d, tuple(got[d]))

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{table_path(sf_dir, 'documents')}/*.parquet'"
    )
    odf = con.sql(DOC_GOPHER_REPETITION_SQL).df().set_index("doc_id")
    for d, exp in expected.items():
        assert tuple(odf.loc[d, c] for c in cols) == exp, (d, odf.loc[d])


def test_full_pipeline_manifest_composes_solo_gates(spark):
    """Pins the full-pipeline manifest against SEQUENTIALLY applying the
    proven solo gates: its doc set must be exactly (decontaminated ∩
    quality-filtered ∩ span-cleaned-nonempty); kept/removed tokens must
    agree with the standalone span rewrite; token conservation holds on
    every row; and positions close ranks ONCE — dense 1..n per (split,
    shard) in base-manifest pos order (which equals closing per gate,
    the _close_ranks identity)."""
    from collections import defaultdict

    from aws_saas_etl_spark.operators.curation import (
        training_manifest,
        training_manifest_decontaminated,
        training_manifest_full_pipeline,
        training_manifest_quality_filtered,
        training_manifest_span_cleaned,
    )
    from tests.conftest import SF_SMOKE

    rows = training_manifest_full_pipeline(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_tokens == r.kept_tokens + r.removed_tokens, tuple(r)
        assert r.kept_tokens > 0

    dec = {r.doc_id for r in training_manifest_decontaminated(spark, SF_SMOKE).collect()}
    qf = {r.doc_id for r in training_manifest_quality_filtered(spark, SF_SMOKE).collect()}
    span = {
        r.doc_id: r
        for r in training_manifest_span_cleaned(spark, SF_SMOKE).collect()
    }
    assert {r.doc_id for r in rows} == dec & qf & set(span)
    for r in rows:
        assert r.kept_tokens == span[r.doc_id].kept_tokens

    # at least one gate actually removed something at this sf (the
    # composition is non-vacuous: each removal set bites)
    base = {r.doc_id: r for r in training_manifest(spark, SF_SMOKE).collect()}
    assert (set(base) - dec) and (set(base) - qf) and (set(base) - set(span))

    by_shard = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.split, r.shard, r.pos)):
        by_shard[(r.split, r.shard)].append(r)
    for key, rs in by_shard.items():
        assert [r.pos for r in rs] == list(range(1, len(rs) + 1)), key
        base_pos = [base[r.doc_id].pos for r in rs]
        assert base_pos == sorted(base_pos), key


def test_stream_compaction_handoff_matches_incremental(spark):
    """Pins the stream→compaction handoff (VERDICT r12 #5) against the
    proven batch path, row-for-row: stored base + streamed appends
    (read back from the accreted store) + nightly merge + compaction
    must reproduce training_manifest_incremental EXACTLY — same doc
    set, same (split, shard), same final positions, same token counts.
    The incremental row itself hashes against the full-recompute twin,
    so transitively: handoff ≡ full recompute."""
    from aws_saas_etl_spark.operators.curation import (
        manifest_stream_compaction_handoff,
        training_manifest_incremental,
    )
    from tests.conftest import SF_SMOKE

    got = {
        r.doc_id: (r.split, r.shard, r.pos, r.n_tokens)
        for r in manifest_stream_compaction_handoff(spark, SF_SMOKE).collect()
    }
    want = {
        r.doc_id: (r.split, r.shard, r.pos, r.n_tokens)
        for r in training_manifest_incremental(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert got  # non-vacuous


def test_gateset_version_diff_reconciles_with_both_versions(spark):
    """The migration report must account for EVERY v1 row exactly once:
    per (split, shard), Σ n_docs over fates = |v1 rows|; the 'kept'
    groups reproduce v2's per-shard counts and token sums; and at least
    one non-kept fate exists (the report is non-vacuous)."""
    from collections import Counter, defaultdict

    from aws_saas_etl_spark.operators.curation import (
        manifest_gateset_version_diff,
        training_manifest_full_pipeline,
        training_manifest_gatesetv2,
    )
    from tests.conftest import SF_SMOKE

    diff = manifest_gateset_version_diff(spark, SF_SMOKE).collect()
    v1 = training_manifest_full_pipeline(spark, SF_SMOKE).collect()
    v2 = training_manifest_gatesetv2(spark, SF_SMOKE).collect()

    per_shard = defaultdict(int)
    kept = {}
    for r in diff:
        per_shard[(r.split, r.shard)] += r.n_docs
        if r.fate == "kept":
            kept[(r.split, r.shard)] = (r.n_docs, r.sum_kept_tokens)
    assert per_shard == Counter((r.split, r.shard) for r in v1)

    v2_counts = defaultdict(lambda: [0, 0])
    for r in v2:
        c = v2_counts[(r.split, r.shard)]
        c[0] += 1
        c[1] += r.kept_tokens
    assert kept == {k: tuple(v) for k, v in v2_counts.items()}
    assert any(r.fate != "kept" for r in diff)


def test_gatesetv2_is_v1_plus_repetition_gate(spark):
    """Pins GATE SET v2 (VERDICT r12 #4) as exactly the versioned
    evolution it claims to be: v2's removed set vs v1 IS v1's
    train-split survivors failing the Gopher repetition gate (16 docs
    at sf0.001 — non-vacuous), eval splits are never touched by the new
    gate, surviving rows carry identical (split, shard, token) values,
    and v2 ≡ the repetition gate applied SEQUENTIALLY to v1's output
    with ranks closing once more (the _close_ranks idempotence the full
    pipeline proved, now exercised across a version boundary)."""
    from collections import defaultdict

    from aws_saas_etl_spark.operators.curation import (
        training_manifest_full_pipeline,
        training_manifest_gatesetv2,
    )
    from aws_saas_etl_spark.operators.textops import doc_repetition_filter
    from tests.conftest import SF_SMOKE

    v1 = {
        r.doc_id: r
        for r in training_manifest_full_pipeline(spark, SF_SMOKE).collect()
    }
    v2 = {
        r.doc_id: r for r in training_manifest_gatesetv2(spark, SF_SMOKE).collect()
    }
    fail = {
        r.doc_id
        for r in doc_repetition_filter(spark, SF_SMOKE)
        .where("verdict <> 'keep'")
        .collect()
    }

    removed = set(v1) - set(v2)
    assert removed, "the v2 gate must bite at this sf (non-vacuity)"
    assert removed == {
        d for d in v1 if v1[d].split == "train" and d in fail
    }
    # eval splits are never gated: every non-train v1 row survives
    assert all(d in v2 for d in v1 if v1[d].split != "train")
    # surviving rows: everything but pos identical
    for d, r in v2.items():
        o = v1[d]
        assert (r.split, r.shard, r.n_tokens, r.kept_tokens, r.removed_tokens) == (
            o.split, o.shard, o.n_tokens, o.kept_tokens, o.removed_tokens
        )
    # sequential application: dropping the removed docs from v1 and
    # re-closing ranks reproduces v2's positions exactly
    by_shard = defaultdict(list)
    for r in sorted(v1.values(), key=lambda r: (r.split, r.shard, r.pos)):
        if r.doc_id in v2:
            by_shard[(r.split, r.shard)].append(r.doc_id)
    for (split, shard), ids in by_shard.items():
        for i, d in enumerate(ids, start=1):
            assert v2[d].pos == i, (split, shard, d)


def test_repetition_filter_first_failing_gate(spark, tmp_path):
    """Pins the Gopher gate's first-failing-rung semantics on an
    engineered corpus hitting four distinct outcomes: duplicated lines
    (doc 0), top-2-gram mass (doc 1), duplicated-5-gram coverage firing
    BELOW the top-gram thresholds (doc 2: one 5-gram repeated at the
    ends of a 65-token diverse stream — top-4 mass 30/259 ≈ 0.116 stays
    under 0.16 while coverage 10/65 ≈ 0.154 clears 0.15), and keep
    (doc 3, 30 distinct tokens)."""
    import itertools
    import os

    from aws_saas_etl_spark.catalog import TABLES, table_path
    from aws_saas_etl_spark.operators.textops import doc_repetition_filter
    from tests.conftest import SF_SMOKE

    sf_dir = str(tmp_path / "sf_gate")
    os.makedirs(sf_dir)
    for name in TABLES:
        if name != "documents":
            os.symlink(table_path(SF_SMOKE, name), table_path(sf_dir, name))

    letters = "abcdefghijklmnopqrstuvwxyz"
    fillers = [
        "f" + a + b for a, b in itertools.product(letters, letters)
    ][:55]
    rep5 = "raa rab rac rad rae"
    doc2 = " ".join([rep5] + fillers + [rep5])
    doc3 = " ".join("k" + a + b for a, b in itertools.product("ab", letters))[: 30 * 4 - 1]
    rows = [
        (0, "en", "src0", 34, "aa bb\naa bb\ncc dd ee\n\nxx yy\n\nxx yy"),
        (1, "en", "src0", 29, "p q r s t p q r s t p q r s t"),
        (2, "en", "src0", 259, doc2),
        (3, "en", "src0", 119, doc3),
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long, text string"
    ).coalesce(1).write.parquet(table_path(sf_dir, "documents"))

    got = {r.doc_id: r.verdict for r in doc_repetition_filter(spark, sf_dir).collect()}
    assert got == {
        0: "dup_line_frac",
        1: "top_2gram_char_frac",
        2: "dup_5gram_token_frac",
        3: "keep",
    }, got


# --------------------------------------------------------------------------
# Builders written as SQL text: the Column-API formulations they replaced
# are kept below as references. Each rewritten builder must give the
# reference's optimized plan (expression ids and lambda variable names
# normalized) and its rows.
# --------------------------------------------------------------------------


def _ref_tokens(c):
    from aws_saas_etl_spark.functions.text import TOKEN_SPLIT_RE

    return F.filter(F.split(F.lower(F.col(c)), TOKEN_SPLIT_RE), lambda t: t != "")


def _ref_stopword_count(c, lang="en"):
    from aws_saas_etl_spark.functions.text import LANG_STOPWORDS

    stops = list(LANG_STOPWORDS[lang])
    return F.size(F.filter(_ref_tokens(c), lambda t: t.isin(*stops)))


def _ref_stopword_ratio(c, lang="en"):
    n = F.size(_ref_tokens(c))
    return F.when(n > 0, _ref_stopword_count(c, lang) / n).otherwise(F.lit(0.0))


def _ref_alpha_ratio(c):
    col = F.col(c)
    n_alpha = F.length(F.regexp_replace(col, "[^a-zA-Z]", ""))
    return F.when(F.length(col) > 0, n_alpha / F.length(col)).otherwise(F.lit(0.0))


def _ref_mean_token_length(c):
    ts = _ref_tokens(c)
    total = F.aggregate(ts, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(ts) > 0, total.cast("double") / F.size(ts)).otherwise(
        F.lit(0.0)
    )


def _ref_shingles(c, size=3):
    toks = _ref_tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - size)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(size)]
        ),
    )
    empty = F.array().cast("array<string>")
    return F.when(n >= size, F.array_distinct(grams)).otherwise(empty)


def _ref_minhash_signatures(docs):
    from aws_saas_etl_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_HASHES,
        _M31,
        md60,
    )

    ex = docs.select("doc_id", F.explode(_ref_shingles("text")).alias("s"))
    h = ex.select("doc_id", md60(F.col("s")).alias("h"))
    h31 = F.col("h").bitwiseAND(F.lit(_M31))
    return h.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("h")).alias("sh"),
        *[
            F.min((h31 * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(_M31)).alias(
                f"h{i}"
            )
            for i in range(MINHASH_HASHES)
        ],
    )


def _ref_simhash_fingerprints(docs):
    from aws_saas_etl_spark.operators.dedup import SIMHASH_BITS

    rows = docs.select(
        "doc_id", F.explode(F.array_distinct(_ref_tokens("text"))).alias("tok")
    )
    hx = F.md5(F.col("tok"))
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    votes = rows.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(lo if j < 32 else hi, j % 32).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        bit_value = -(2**63) if j == 63 else 2**j
        sig = sig + F.when(F.col(f"v{j}") > 0, F.lit(bit_value).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("doc_id", sig.alias("simhash"))


def _ref_logreg_feats(docs):
    from aws_saas_etl_spark.operators.curation import LOGREG_X_SCALE

    def xq(col):
        return F.round(col * F.lit(float(LOGREG_X_SCALE))).cast("bigint")

    docs = docs.where(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & F.col("lang").isNotNull()
    )
    return docs.select(
        "doc_id",
        xq(_ref_stopword_ratio("text", "en")).alias("x1"),
        xq(_ref_alpha_ratio("text")).alias("x2"),
        xq(_ref_mean_token_length("text") / F.lit(10.0)).alias("x3"),
        F.lit(LOGREG_X_SCALE).cast("bigint").alias("x4"),
        (F.col("lang") == F.lit("en")).cast("bigint").alias("y"),
    )


def _ref_logreg_p(w):
    from aws_saas_etl_spark.operators.curation import LOGREG_X_SCALE

    t = [w[j] * (F.col(f"x{j}") / F.lit(float(LOGREG_X_SCALE))) for j in (1, 2, 3, 4)]
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-(((t[0] + t[1]) + t[2]) + t[3])))


def _ref_with_weights(feats, *wdfs):
    out = feats.withColumn("_k", F.lit(1))
    for wdf in wdfs:
        out = out.join(F.broadcast(wdf.withColumn("_k", F.lit(1))), "_k")
    return out


def _ref_logreg_fit(feats):
    from aws_saas_etl_spark.operators.curation import (
        LOGREG_ITERS,
        LOGREG_LR,
        LOGREG_P_SCALE,
        LOGREG_X_SCALE,
    )

    wdf = None
    for _ in range(LOGREG_ITERS):
        if wdf is None:
            src, w = feats, {j: F.lit(0.0) for j in (1, 2, 3, 4)}
        else:
            src = _ref_with_weights(feats, wdf)
            w = {j: F.col(f"w{j}") for j in (1, 2, 3, 4)}
        pq = F.round(_ref_logreg_p(w) * F.lit(float(LOGREG_P_SCALE))).cast("bigint")
        resid = pq - F.col("y") * F.lit(LOGREG_P_SCALE)
        agg = src.agg(
            *[F.sum(resid * F.col(f"x{j}")).alias(f"s{j}") for j in (1, 2, 3, 4)],
            F.count(F.lit(1)).alias("n"),
            *[F.min(w[j]).alias(f"wp{j}") for j in (1, 2, 3, 4)],
        )
        wdf = agg.select(
            *[
                (
                    F.col(f"wp{j}")
                    - F.lit(LOGREG_LR)
                    * (
                        F.col(f"s{j}").cast("double")
                        / (
                            F.col("n").cast("double")
                            * F.lit(float(LOGREG_P_SCALE * LOGREG_X_SCALE))
                        )
                    )
                ).alias(f"w{j}")
                for j in (1, 2, 3, 4)
            ]
        )
    return wdf


def _ref_logreg_serve(feats, wdf):
    from aws_saas_etl_spark.functions import num as N

    p = _ref_logreg_p({j: F.col(f"w{j}") for j in (1, 2, 3, 4)})
    return _ref_with_weights(feats, wdf).select(
        "doc_id",
        F.col("y").alias("label"),
        N.dround(p, 6).alias("score"),
        (p >= F.lit(0.5)).cast("bigint").alias("pred"),
    ).orderBy("doc_id")


def _ref_logreg_drift(feats, fresh, stale):
    pf = _ref_logreg_p({j: F.col(f"w{j}") for j in (1, 2, 3, 4)})
    ps = _ref_logreg_p({j: F.col(f"v{j}") for j in (1, 2, 3, 4)})
    return _ref_with_weights(feats, fresh, stale).select(
        F.col("y").alias("label"),
        ((pf >= F.lit(0.5)) != (ps >= F.lit(0.5))).cast("int").alias("flip"),
        F.round(pf * F.lit(1.0e6)).cast("bigint").alias("qf"),
        F.round(ps * F.lit(1.0e6)).cast("bigint").alias("qs"),
    )


def test_text_dedup_and_logreg_builders_keep_the_column_api_tree(spark):
    """The token features, shingles, MinHash signatures, SimHash
    fingerprints and the logistic-regression features, fit, sigmoid,
    scorer and drift rows written as SQL text each optimize to the plan
    of their Column-API form and return its rows on the sf0.001
    documents."""
    from aws_saas_etl_spark.catalog import load_tables
    from aws_saas_etl_spark.functions import text as T
    from aws_saas_etl_spark.operators import curation as C
    from aws_saas_etl_spark.operators import dedup as D
    from tests.conftest import SF_SMOKE, assert_same_tree

    docs = load_tables(spark, SF_SMOKE).documents
    feats = C._logreg_feats(docs)
    fresh = C.logreg_fit(feats)
    stale = C.logreg_fit(feats.where("doc_id <= 300")).selectExpr(
        *[f"w{j} AS v{j}" for j in (1, 2, 3, 4)]
    )
    lit_w = {1: 0.25, 2: -1.5, 3: 1e-05, 4: -0.0}

    def col_pair(name, got, want):
        return (
            docs.select("doc_id", got.alias(name)),
            docs.select("doc_id", want.alias(name)),
        )

    cases = {
        "tokens": col_pair("v", T.tokens("text"), _ref_tokens("text")),
        "token_count": col_pair("v", T.token_count("text"), F.size(_ref_tokens("text"))),
        "distinct_token_count": col_pair(
            "v",
            T.distinct_token_count("text"),
            F.size(F.array_distinct(_ref_tokens("text"))),
        ),
        "stopword_count": col_pair(
            "v", T.stopword_count("text", "de"), _ref_stopword_count("text", "de")
        ),
        "stopword_ratio": col_pair(
            "v", T.stopword_ratio("text"), _ref_stopword_ratio("text")
        ),
        "alpha_ratio": col_pair("v", T.alpha_ratio("text"), _ref_alpha_ratio("text")),
        "mean_token_length": col_pair(
            "v", T.mean_token_length("text"), _ref_mean_token_length("text")
        ),
        "shingles": col_pair("v", D.shingles("text"), _ref_shingles("text")),
        "hashed_shingles": col_pair(
            "v",
            D.hashed_shingles("text"),
            F.transform(_ref_shingles("text"), lambda s: F.xxhash64(s)),
        ),
        "minhash": (D.minhash_signatures(docs), _ref_minhash_signatures(docs)),
        "simhash": (D.simhash_fingerprints(docs), _ref_simhash_fingerprints(docs)),
        "logreg_feats": (feats, _ref_logreg_feats(docs)),
        "logreg_fit": (fresh, _ref_logreg_fit(feats)),
        "logreg_sigmoid": (
            feats.select(
                "doc_id",
                F.expr(
                    C._logreg_p_sql({j: f"({v!r}D)" for j, v in lit_w.items()})
                ).alias("p"),
            ),
            feats.select(
                "doc_id",
                _ref_logreg_p({j: F.lit(v) for j, v in lit_w.items()}).alias("p"),
            ),
        ),
        "logreg_serve": (
            C._logreg_serve(feats, fresh),
            _ref_logreg_serve(feats, fresh),
        ),
        "logreg_drift": (
            C._logreg_drift(feats, fresh, stale),
            _ref_logreg_drift(feats, fresh, stale),
        ),
    }
    assert_same_tree(spark, cases)


def test_text_and_logreg_builders_cost_one_expression_of_round_trips(spark):
    """A token feature costs what one ``F.expr`` costs, and the logreg
    sigmoid is pure text: turning it into a Column is one ``F.expr``."""
    from aws_saas_etl_spark.functions import text as T
    from aws_saas_etl_spark.operators.curation import _logreg_p_sql
    from tests.conftest import py4j_calls

    one_expr = py4j_calls(lambda: F.expr("a + b"))
    assert one_expr > 0
    for build in (T.tokens, T.stopword_ratio, T.mean_token_length, T.alpha_ratio):
        assert py4j_calls(lambda: build("text")) == one_expr, build.__name__
    w = {j: f"w{j}" for j in (1, 2, 3, 4)}
    assert py4j_calls(lambda: _logreg_p_sql(w)) == 0
    assert py4j_calls(lambda: F.expr(_logreg_p_sql(w))) == one_expr
