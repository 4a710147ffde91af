"""Cold ≡ warm: a memo-backed query returns the same rows whether its
session artifacts are built for it or served from the memo.

Each query runs three ways at sf0.001:

1. cold — alone, right after ``clear_session_memos()``;
2. shared — every query in turn in one session, so a query may read
   artifacts another query built;
3. warm — again, every artifact now served from the memo.

The rows of 2 and 3 must equal the rows of 1 (order-insensitive). The
queries must together touch every traced memo the engine defines, so a
new stored artifact without a covering query fails the test.
"""

from __future__ import annotations

import hashlib
import sys

from aws_saas_etl_spark import memo, registry
from aws_saas_etl_spark.session import clear_session_memos

from tests.conftest import SF_SMOKE

#: One query per traced memo (several cover more than one), the cheapest
#: found for each.
COLD_WARM_QUERIES = [
    "ann_ivf_topk",  # ivf_centroids, ivf_assignment
    "ann_pq_adc_topk",  # pq_codebook, pq_codes
    "ann_ivfpq_residual_topk",  # pq_residual_codebook
    "ann_index_staleness_report",  # audit_truth_topk, the "base" IVF fit
    "doc_lexical_topk_indexed",  # lex_postings
    "dedup_duplicate_clusters_exact",  # shingle, clusters
    "training_manifest_incremental",  # manifest, base_labels
    "doc_quality_logreg",  # logreg_artifacts
    "logreg_staleness_report",  # the "base" logreg fit
    "doc_crossdoc_duplication",  # crossdoc_span
    "bpe_staleness_report",  # bpe_merges, fresh and "base" rules
]


def _row_hash(df) -> str:
    rows = sorted(map(repr, df.collect()))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _engine_traced_memos() -> set[str]:
    """Names of the traced memos defined at module level in the engine."""
    return {
        value.name
        for name, module in list(sys.modules.items())
        if name.startswith("aws_saas_etl_spark")
        for value in vars(module).values()
        if isinstance(value, memo.MemoDict) and value.traced
    }


def test_cold_rows_equal_warm_rows_for_every_traced_memo(spark):
    qs = registry.queries()
    cold, touched = {}, set()
    for name in COLD_WARM_QUERIES:
        clear_session_memos()
        with memo.track() as t:
            df = qs[name](spark, SF_SMOKE)
        touched.update(t)
        cold[name] = _row_hash(df)
    assert touched == _engine_traced_memos()

    clear_session_memos()
    for phase in ("shared", "warm"):
        for name in COLD_WARM_QUERIES:
            assert _row_hash(qs[name](spark, SF_SMOKE)) == cold[name], (phase, name)
    clear_session_memos()
