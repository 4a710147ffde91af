"""DuckDB oracle SQL builders.

SQL twins are generated from the SAME Python constants the Spark operators
use (lexicons, stopword lists, thresholds), so the two sides cannot drift.
Fragments follow the exact evaluation order of the Spark expressions —
including double-precision fold order — so rounded values hash-match.
"""

from __future__ import annotations

from aws_saas_etl_spark.functions.sentiment import (
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
    TRUNCATE_AT,
)
from aws_saas_etl_spark.functions.num import davg_sql, dround_sql, dsum_sql
from aws_saas_etl_spark.functions.text import LANG_STOPWORDS
from aws_saas_etl_spark.operators.dedup import LENGTH_BUCKET, SHINGLE_SIZE
from aws_saas_etl_spark.operators.similarity import N_QUERY_VECS, TOP_K

TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def sql_list(words) -> str:
    inner = ", ".join(f"'{w}'" for w in words)
    return f"[{inner}]"


def toks(expr: str) -> str:
    """Tokenizer twin of functions.text.tokens."""
    return f"list_filter(string_split_regex(lower({expr}), '[^a-z]+'), x -> x <> '')"


def lexicon_count(toks_expr: str, words) -> str:
    return f"len(list_filter({toks_expr}, x -> list_contains({sql_list(words)}, x)))"


DOC_DROPNA = (
    "doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL "
    "AND source IS NOT NULL AND n_chars IS NOT NULL"
)

SENTIMENT_CASE = f"""
    CASE
      WHEN text IS NULL OR trim(text) = '' THEN 'NEUTRAL'
      WHEN p > 0 AND n > 0 AND 2 * least(p, n) >= greatest(p, n) THEN 'MIXED'
      WHEN p > n THEN 'POSITIVE'
      WHEN n > p THEN 'NEGATIVE'
      ELSE 'NEUTRAL'
    END
"""

SENTIMENT_COUNTS = f"""
    SELECT *,
           {lexicon_count(toks(f"substr(text, 1, {TRUNCATE_AT})"), POSITIVE_WORDS)} AS p,
           {lexicon_count(toks(f"substr(text, 1, {TRUNCATE_AT})"), NEGATIVE_WORDS)} AS n
    FROM documents
    WHERE {DOC_DROPNA}
"""

DOC_SENTIMENT_SQL = f"""
    WITH scored AS ({SENTIMENT_COUNTS})
    SELECT lang, {SENTIMENT_CASE} AS sentiment_result, count(*) AS n_docs
    FROM scored
    GROUP BY lang, sentiment_result
    ORDER BY lang, sentiment_result
"""

DOC_SENTIMENT_UDF_SQL = f"""
    WITH scored AS ({SENTIMENT_COUNTS})
    SELECT doc_id, {SENTIMENT_CASE} AS sentiment_result
    FROM scored
"""

DOC_COMMENT_LENGTH_SQL = f"""
    SELECT doc_id, lang, source, n_chars,
           length(CAST(text AS VARCHAR)) AS comment_length
    FROM documents
    WHERE {DOC_DROPNA}
"""

DOC_TEXT_STATS_SQL = f"""
    WITH t AS (SELECT doc_id, text, {toks('text')} AS tk FROM documents)
    SELECT doc_id,
           length(text)                 AS n_chars_computed,
           len(tk)                      AS n_tokens,
           len(list_distinct(tk))       AS n_distinct_tokens,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_ws_tokens,
           round(CASE WHEN len(tk) > 0
                 THEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk)
                 ELSE 0.0 END, 6)       AS mean_token_len
    FROM t
"""

_EN_STOPS = sql_list(LANG_STOPWORDS["en"])

DOC_QUALITY_SQL = f"""
    WITH t AS (SELECT doc_id, text, {toks('text')} AS tk FROM documents)
    SELECT doc_id,
           round(CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / CAST(length(text) AS DOUBLE)
                 ELSE 0.0 END, 6) AS alpha_ratio,
           round(CASE WHEN len(tk) > 0
                 THEN len(list_filter(tk, x -> list_contains({_EN_STOPS}, x))) / CAST(len(tk) AS DOUBLE)
                 ELSE 0.0 END, 6) AS stopword_ratio_en,
           round(
             0.4 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
             + 0.3 * (CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / CAST(length(text) AS DOUBLE)
                      ELSE 0.0 END)
             + 0.3 * (CASE WHEN len(tk) > 0
                      THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                      ELSE 0.0 END), 6) AS quality_score
    FROM t
"""


def _lang_id_sql() -> str:
    score_cols = ",\n           ".join(
        f"{lexicon_count('tk', stops)} AS s_{lang}"
        for lang, stops in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    greatest_all = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    whens = "\n             ".join(
        f"WHEN s_{lang} = {greatest_all} THEN '{lang}'" for lang in langs
    )
    return f"""
    WITH t AS (SELECT lang, {toks('text')} AS tk FROM documents),
    s AS (SELECT lang, {score_cols} FROM t)
    SELECT lang,
           CASE WHEN {greatest_all} = 0 THEN 'und'
             {whens}
             ELSE 'und'  -- NULL text: all scores NULL, no WHEN fires;
                         -- the engine's when/otherwise yields 'und' too
           END AS lang_pred,
           count(*) AS n_docs
    FROM s
    GROUP BY lang, lang_pred
    ORDER BY lang, lang_pred
"""


DOC_LANGUAGE_ID_SQL = _lang_id_sql()

_NORM_TEXT = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

DOC_FINGERPRINTS_SQL = f"""
    SELECT doc_id,
           md5({_NORM_TEXT})    AS fingerprint,
           sha256({_NORM_TEXT}) AS sha256_norm
    FROM documents
"""

DOC_TOKEN_FREQ_SQL = f"""
    SELECT w AS token, count(*) AS n_occurrences
    FROM (SELECT unnest({toks('text')}) AS w FROM documents)
    GROUP BY w
    ORDER BY n_occurrences DESC, token ASC
    LIMIT 20
"""

def _tfidf_sql() -> str:
    from aws_saas_etl_spark.operators.textops import TFIDF_TOP_K

    tfidf = "tf * (ln((n_docs + 1) / CAST(df_docs + 1 AS DOUBLE)) + 1.0)"
    return f"""
    WITH tk AS (SELECT doc_id, unnest({toks("text")}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term, tf, df_docs, {dround_sql(tfidf, 6)} AS tfidf
        FROM tf JOIN dfq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS term_rank
        FROM scored
    )
    SELECT doc_id, term, tf, df_docs, tfidf, term_rank
    FROM ranked WHERE term_rank <= {TFIDF_TOP_K}
    ORDER BY doc_id, term_rank
"""


DOC_TFIDF_SQL = _tfidf_sql()


def _hash_bucket_sql(key: str, n_buckets: int = 100) -> str:
    """DuckDB twin of operators.sampling.hash_bucket."""
    return f"(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15))::BIGINT % {n_buckets})"


def _split_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import SPLIT_TRAIN_PCT, SPLIT_VAL_PCT

    b = _hash_bucket_sql("doc_id")
    return f"""
    WITH t AS (
        SELECT CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {b} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split,
               len({toks("text")}) AS n_toks
        FROM documents
    ),
    n AS (SELECT count(*) AS n_total FROM documents)
    SELECT split, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           {dround_sql("count(*) / CAST(n_total AS DOUBLE) * 100", 4)} AS pct_docs
    FROM t CROSS JOIN n
    GROUP BY split, n_total
    ORDER BY split
"""


TRAIN_VAL_TEST_SPLIT_SQL = _split_sql()


def _stratified_sample_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import SAMPLE_PCT

    b = _hash_bucket_sql("doc_id")
    return f"""
    WITH t AS (
        SELECT lang, CASE WHEN {b} < {SAMPLE_PCT} THEN 1 ELSE 0 END AS kept
        FROM documents
    )
    SELECT lang, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_sampled,
           {dround_sql("sum(kept) / CAST(count(*) AS DOUBLE) * 100", 4)} AS sample_pct
    FROM t GROUP BY lang ORDER BY lang
"""


STRATIFIED_SAMPLE_SQL = _stratified_sample_sql()

DEDUP_EXACT_SQL = """
    SELECT sha256(text) AS text_hash,
           min(doc_id)  AS keeper_doc_id,
           count(*)     AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY 1
"""

# Matrix tail over a CTE named m(gkey, source, nd) — shared by the exact,
# planted, and near-dup source-flow matrices. sum() is CAST to BIGINT:
# DuckDB's sum(BIGINT) widens to HUGEINT, which the driver's pandas
# comparison renders as float strings ('7.0') while Spark emits LONG
# ('7') — an uncast sum fails the value hash on any corpus that actually
# contains duplicates (the r7 twin shipped uncast and passed only because
# the fixture has zero sha256 dup groups; ADVICE r7).
_FLOW_MATRIX_TAIL = """
    cross_pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared_groups,
               CAST(sum(a.nd) AS BIGINT) AS n_docs_a,
               CAST(sum(b.nd) AS BIGINT) AS n_docs_b
        FROM m a JOIN m b ON a.gkey = b.gkey AND a.source < b.source
        GROUP BY 1, 2
    ),
    diag AS (
        SELECT source AS source_a, source AS source_b,
               count(*) AS n_shared_groups,
               CAST(sum(nd) AS BIGINT) AS n_docs_a,
               CAST(sum(nd) AS BIGINT) AS n_docs_b
        FROM m WHERE nd >= 2 GROUP BY 1, 2
    )
    SELECT * FROM cross_pairs UNION ALL SELECT * FROM diag
    ORDER BY source_a, source_b
"""


def _dup_matrix_sql(corpus_cte: str) -> str:
    """Exact matrix over a (text, source) corpus relation named ``aug``."""
    return f"""
    WITH {corpus_cte},
    m AS (
        SELECT sha256(text) AS gkey, source, count(*) AS nd
        FROM aug
        GROUP BY 1, 2
    ),
    {_FLOW_MATRIX_TAIL}
"""


SOURCE_DUPLICATION_MATRIX_SQL = _dup_matrix_sql(
    f"aug AS (SELECT text, source FROM documents WHERE {DOC_DROPNA})"
)

# Planted-duplicates variant: the real fixtures contain ZERO exact sha256
# duplicate groups, so the plain matrix hash-matches on 0 rows == 0 rows —
# a vacuous gate (ADVICE r7). This twin deterministically augments the
# corpus before building the matrix: every doc_id % 10 == 0 document is
# re-inserted under a 'mirror_' twin source (cross-source duplication, one
# off-diagonal cell per source) and every doc_id % 10 == 3 document is
# re-inserted under its OWN source (within-source re-fetch, diagonal
# cells) — so the pair-join direction, the a.source < b.source dedup, and
# the diagonal union all produce rows the driver value-hashes.
SOURCE_DUPLICATION_MATRIX_PLANTED_SQL = _dup_matrix_sql(
    f"""base AS (SELECT text, source, doc_id FROM documents WHERE {DOC_DROPNA}),
    aug AS (
        SELECT text, source FROM base
        UNION ALL
        SELECT text, 'mirror_' || source FROM base WHERE doc_id % 10 = 0
        UNION ALL
        SELECT text, source FROM base WHERE doc_id % 10 = 3
    )"""
)

DEDUP_NORMALIZED_SQL = f"""
    SELECT sha256({_NORM_TEXT}) AS norm_hash,
           min(doc_id)          AS keeper_doc_id,
           count(*)             AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY 1
"""

DEDUP_TOKEN_BAG_SQL = f"""
    SELECT sha256(array_to_string(list_sort(list_distinct({toks('text')})), ' ')) AS bag_hash,
           min(doc_id) AS keeper_doc_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY 1
"""

# BPE-ish pre-tokenizer twin (text.BPE_SPLIT_RE): the pattern uses only
# constructs Java regex and RE2 share; single quote doubled for SQL.
_BPE_RE_SQL = r"'''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+'"

DOC_BPE_COUNTS_SQL = f"""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
               AS n_ws_tokens,
           len(regexp_extract_all(text, {_BPE_RE_SQL})) AS n_bpe_tokens
    FROM documents
"""


def _winnow_kgram_hash_sql(gram_expr: str) -> str:
    """DuckDB twin of functions.text.kgram_hash — same polynomial +
    double-Lehmer formula over the same constants, all BIGINT math."""
    from aws_saas_etl_spark.functions import text as T

    k, p = T.WINNOW_K, T.WINNOW_P
    poly = " + ".join(
        f"ascii(substr({gram_expr}, {j + 1}, 1))::BIGINT * {T.WINNOW_B ** (k - 1 - j)}"
        for j in range(k)
    )
    return (
        f"((({poly}) % {p}) * {T.WINNOW_A1} % {p}) * {T.WINNOW_A1} % {p}"
        f" * 2147483648"
        f" + (((({poly}) % {p} + {T.WINNOW_SALT}) % {p})"
        f" * {T.WINNOW_A2} % {p}) * {T.WINNOW_A2} % {p}"
    )


def _winnow_sql() -> str:
    from aws_saas_etl_spark.functions.text import WINNOW_K, WINNOW_W

    k, w = WINNOW_K, WINNOW_W
    h = _winnow_kgram_hash_sql(f"substr(txt, i, {k})")
    return f"""
    WITH t AS (SELECT doc_id, {{norm}} AS txt FROM documents),
    g AS (
        SELECT doc_id,
               CASE WHEN length(txt) >= {k}
                    THEN list_transform(generate_series(1, length(txt) - {k - 1}),
                         i -> {h})
                    ELSE CAST([] AS BIGINT[]) END AS hs
        FROM t
    ),
    wmin AS (
        SELECT doc_id, len(hs) AS n_kgrams,
               CASE WHEN len(hs) >= {w}
                    THEN list_sort(list_distinct(
                         list_transform(generate_series(1, len(hs) - {w - 1}),
                         j -> list_aggregate(hs[j:j+{w - 1}], 'min'))))
                    ELSE CAST([] AS BIGINT[]) END AS fps
        FROM g
    )
    SELECT doc_id, n_kgrams, len(fps) AS n_fingerprints,
           md5(array_to_string(fps, ',')) AS winnow_digest
    FROM wmin
    ORDER BY doc_id
"""


DOC_WINNOW_SQL = _winnow_sql().format(norm=_NORM_TEXT)


# Banding-layer twin of simhash_buckets: engine-neutral 60-bit fingerprint
# (first 15 hex chars of md5 → bigint; positive in signed 64-bit, so plain
# shifts match Spark's shiftrightunsigned), banded 4 × 15 bits by the same
# shift/mask math the xxhash64-based simhash path uses.
SIMHASH_BAND_SQL = """
    SELECT doc_id,
           fp60,
           CAST((fp60 >> 0)  & 32767 AS INT) AS band_0,
           CAST((fp60 >> 15) & 32767 AS INT) AS band_1,
           CAST((fp60 >> 30) & 32767 AS INT) AS band_2,
           CAST((fp60 >> 45) & 32767 AS INT) AS band_3
    FROM (
        SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp60
        FROM documents
    )
    ORDER BY doc_id
"""

_SHINGLES = (
    f"list_distinct(list_transform("
    f"generate_series(1, greatest(len(tk) - {SHINGLE_SIZE - 1}, 0)), "
    f"i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))"
)

# `//` (not CAST of a division) because DuckDB CAST(double AS INT) rounds
# to nearest while Spark's cast truncates; integer floor-div matches both.
NGRAM_JACCARD_SQL = f"""
    WITH sh AS (
        SELECT doc_id, lang, {_SHINGLES} AS sh, len(tk) // {LENGTH_BUCKET} AS lb
        FROM (SELECT doc_id, lang, {toks('text')} AS tk FROM documents)
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
    )
    SELECT * FROM pairs WHERE jaccard >= 0.4
    ORDER BY doc_a, doc_b
"""


def _minhash_ctes(sample_where: str = "") -> str:
    """Shared CTE prefix reproducing the Spark MinHash-LSH path EXACTLY:
    md60 base hash (15 hex chars of md5 → bigint, identical to Spark's
    conv(substr(md5,1,15),16,10)), the same 64 affine permutations (the
    a/b constants are read from the SAME Python lists the Spark lambdas
    bind), band buckets joined on the raw 4-tuple of mins (Spark buckets
    on xxhash64 of the tuple — equality-equivalent modulo ~2⁻⁶⁴
    collisions), and the identical hashed-shingle Jaccard verify."""
    from aws_saas_etl_spark.operators.dedup import (
        _M31,
        MINHASH_A,
        MINHASH_B,
        MINHASH_BANDS,
        MINHASH_HASHES,
        MINHASH_ROWS_PER_BAND,
    )

    h_exprs = ",\n               ".join(
        f"list_aggregate(list_transform(sh, h -> "
        f"({MINHASH_A[i]} * (h & {_M31}) + {MINHASH_B[i]}) % {_M31}), 'min')"
        f" AS h{i}"
        for i in range(MINHASH_HASHES)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, row("
        + ", ".join(f"h{b * MINHASH_ROWS_PER_BAND + r}" for r in range(MINHASH_ROWS_PER_BAND))
        + ") AS bk FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""
    t AS (SELECT doc_id, {toks('text')} AS tk FROM documents{sample_where}),
    shl AS (
        SELECT doc_id,
               list_sort(list_transform({_SHINGLES},
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
        FROM t
    ),
    sig AS (
        SELECT doc_id,
               {h_exprs}
        FROM shl WHERE len(sh) > 0
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    prs AS (
        SELECT c.doc_a, c.doc_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                     6) AS jaccard
        FROM cand c JOIN shl a ON a.doc_id = c.doc_a
                    JOIN shl b ON b.doc_id = c.doc_b
    )"""


def _minhash_lsh_pairs_sql() -> str:
    from aws_saas_etl_spark.operators.dedup import JACCARD_MIN

    return f"""
    WITH {_minhash_ctes()}
    SELECT doc_a, doc_b, jaccard FROM prs WHERE jaccard >= {JACCARD_MIN}
    ORDER BY doc_a, doc_b
"""


def _minhash_clusters_sql() -> str:
    """LSH-fed duplicate_clusters twin: the same band-bucketed pair CTEs,
    then the recursive-CTE transitive closure and the canonical
    cluster-row shape (sorted member string, min-id keeper)."""
    from aws_saas_etl_spark.operators.dedup import JACCARD_MIN

    return f"""
    WITH RECURSIVE {_minhash_ctes()},
    pe AS (SELECT doc_a, doc_b FROM prs WHERE jaccard >= {JACCARD_MIN}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pe
        UNION ALL
        SELECT doc_b, doc_a FROM pe
    ),
    reach(node, x) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    comp AS (SELECT node, min(x) AS comp FROM reach GROUP BY node)
    SELECT comp AS cluster_id,
           count(*) AS n_members,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS member_doc_ids,
           comp AS keeper_doc_id,
           count(*) - 1 AS n_removed
    FROM comp GROUP BY comp ORDER BY cluster_id
"""


MINHASH_LSH_PAIRS_SQL = _minhash_lsh_pairs_sql()
DEDUP_DUPLICATE_CLUSTERS_SQL = _minhash_clusters_sql()


def _lsh_recall_report_sql(sample_pct: int | None = None) -> str:
    """Twin of the LSH recall report: the shared MinHash CTEs supply the
    band candidate set; the truth arm re-derives exact-Jaccard pairs with
    a plain quadratic self-join (the oracle's job is semantics, not
    scale — the Spark side's prefix filter is the exact rewrite of this
    join, pinned by tests/test_pairs.py). Theory literals come from the
    SAME Python dict the Spark plan binds. With ``sample_pct``, the base
    ``t`` CTE — which feeds BOTH arms — is restricted by the identical
    md5-bucket predicate the Spark sample uses, twinning the sampled
    report form."""
    from aws_saas_etl_spark.operators.dedup import JACCARD_MIN, LSH_THEORY_CAPTURE

    theory_case = (
        "CASE jaccard_band "
        + " ".join(f"WHEN '{b}' THEN {p}" for b, p in LSH_THEORY_CAPTURE.items())
        + " ELSE NULL END"
    )
    sample_where = (
        f" WHERE {_hash_bucket_sql('doc_id')} < {sample_pct}"
        if sample_pct is not None
        else ""
    )
    return f"""
    WITH {_minhash_ctes(sample_where)},
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                     6) AS jaccard
        FROM shl a JOIN shl b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
    ),
    tr AS (SELECT doc_a, doc_b, jaccard FROM truth WHERE jaccard >= {JACCARD_MIN}),
    fl AS (
        SELECT printf('%.1f', least(floor(tr.jaccard * 10), 9) / 10) AS jaccard_band,
               CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM tr LEFT JOIN cand c USING (doc_a, doc_b)
    ),
    pb AS (
        SELECT jaccard_band,
               count(*) AS n_true_pairs,
               CAST(sum(hit) AS BIGINT) AS n_caught_pairs
        FROM fl GROUP BY jaccard_band
        UNION ALL
        SELECT 'all', count(*), CAST(sum(hit) AS BIGINT) FROM fl
    )
    SELECT jaccard_band, n_true_pairs, n_caught_pairs,
           {dround_sql('n_caught_pairs * 1.0 / n_true_pairs', 6)} AS recall,
           {theory_case} AS theory_capture
    FROM pb
    ORDER BY jaccard_band
"""


LSH_RECALL_REPORT_SQL = _lsh_recall_report_sql()


def _lsh_recall_report_sampled_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import AUDIT_SAMPLE_PCT

    return _lsh_recall_report_sql(sample_pct=AUDIT_SAMPLE_PCT)


LSH_RECALL_REPORT_SAMPLED_SQL = _lsh_recall_report_sampled_sql()


def _lsh_recall_report_sampled25_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import AUDIT_SAMPLE_PCT_LOW

    return _lsh_recall_report_sql(sample_pct=AUDIT_SAMPLE_PCT_LOW)


LSH_RECALL_REPORT_SAMPLED25_SQL = _lsh_recall_report_sampled25_sql()


def _simhash_buckets_sql() -> str:
    """Full simhash twin (not just the banding layer): per-token md5
    halves → 64 majority votes → fingerprint assembled in HUGEINT with a
    two's-complement wrap for the sign bit → the same 16-bit band keys
    Spark takes via shiftrightunsigned."""
    from aws_saas_etl_spark.operators.dedup import SIMHASH_BITS

    votes = ",\n               ".join(
        f"sum(CASE WHEN (({'lo' if j < 32 else 'hi'} >> {j % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    u = "\n               + ".join(
        f"CASE WHEN v{j} > 0 THEN {1 << j}::HUGEINT ELSE 0::HUGEINT END"
        for j in range(SIMHASH_BITS)
    )
    bands = ",\n           ".join(
        f"CAST((u >> {16 * b}) % 65536 AS BIGINT) AS band_{b}" for b in range(4)
    )
    return f"""
    WITH r AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest({toks('text')}) AS tok FROM documents)
    ),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
               ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
        FROM r
    ),
    v AS (
        SELECT doc_id,
               {votes}
        FROM h GROUP BY doc_id
    ),
    s AS (
        SELECT doc_id,
               {u} AS u
        FROM v
    )
    SELECT doc_id,
           CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                     THEN u - 18446744073709551616::HUGEINT
                     ELSE u END AS BIGINT) AS simhash,
           {bands}
    FROM s
    ORDER BY doc_id
"""


SIMHASH_BUCKETS_SQL = _simhash_buckets_sql()


def _simhash_hamming_pairs_sql() -> str:
    """Twin of the banded Hamming-pair query — but EXHAUSTIVE: the same
    md5-vote fingerprint CTEs, then a plain quadratic self-join filtered
    at Hamming <= SIMHASH_MAX_HAMMING. The Spark side only examines
    band-colliding candidates; hash equality against this unblocked twin
    is the EMPIRICAL proof of the pigeonhole completeness claim (<= 3
    flipped bits of 4 bands must leave one band intact)."""
    from aws_saas_etl_spark.operators.dedup import SIMHASH_BITS, SIMHASH_MAX_HAMMING

    votes = ",\n               ".join(
        f"sum(CASE WHEN (({'lo' if j < 32 else 'hi'} >> {j % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    u = "\n               + ".join(
        f"CASE WHEN v{j} > 0 THEN {1 << j}::HUGEINT ELSE 0::HUGEINT END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH r AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest({toks('text')}) AS tok FROM documents)
    ),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
               ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
        FROM r
    ),
    v AS (
        SELECT doc_id,
               {votes}
        FROM h GROUP BY doc_id
    ),
    s AS (
        SELECT doc_id,
               {u} AS u
        FROM v
    ),
    fp AS (
        SELECT doc_id,
               CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                         THEN u - 18446744073709551616::HUGEINT
                         ELSE u END AS BIGINT) AS simhash
        FROM s
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
"""


SIMHASH_HAMMING_PAIRS_SQL = _simhash_hamming_pairs_sql()


# Vector math twins: same fold order as Spark's F.aggregate (sequential
# left fold over the array) and the same double-precision arithmetic.
_DOT_QC = (
    "list_aggregate(list_transform(generate_series(1, len(q_emb)), "
    "i -> CAST(q_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)), 'sum')"
)
_NORM_Q = (
    "sqrt(list_aggregate(list_transform(generate_series(1, len(q_emb)), "
    "i -> CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)), 'sum'))"
)
_NORM_C = (
    "sqrt(list_aggregate(list_transform(generate_series(1, len(c_emb)), "
    "i -> CAST(c_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)), 'sum'))"
)

KNN_BRUTEFORCE_SQL = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
        WHERE vec_id < {N_QUERY_VECS}
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
    sims AS (
        SELECT query_id, neighbor_id,
               round({_DOT_QC} / ({_NORM_Q} * {_NORM_C}), 6) AS cos_sim
        FROM c CROSS JOIN q
        WHERE neighbor_id <> query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


def _ann_lsh_topk_sql() -> str:
    """Exact twin of the random-hyperplane LSH ANN: the SAME seeded
    hyperplanes (repr-round-tripped float64 literals from the one numpy
    stream the Spark literals come from), the same sign-bit signature,
    the same log-scaled bit width, multi-probe fan-out, and cosine
    ranking. Bit width is derived from count(*) via the INTEGER
    characterization ``min {{b in [4,24] : 1024·2^b >= n}}`` — provably
    equal to Python's ``ceil(log2(n/1024))`` clamp (pinned in
    tests/test_similarity.py) without trusting cross-engine libm log2
    rounding. Dot products fold left in array order exactly like
    F.aggregate — the equivalence knn_bruteforce's hash-green twin
    already established."""
    from aws_saas_etl_spark.operators.similarity import (
        _hyperplanes,
        LSH_BITS_MAX,
        LSH_BITS_MIN,
        LSH_TARGET_BUCKET_ROWS,
    )

    planes = _hyperplanes(LSH_BITS_MAX)
    d_exprs = ",\n               ".join(
        "list_aggregate(list_transform(generate_series(1, len(embedding)), "
        f"j -> CAST(embedding[j] AS DOUBLE) * ([{', '.join(repr(float(x)) for x in planes[i])}])[j]), 'sum')"
        f" AS d{i}"
        for i in range(LSH_BITS_MAX)
    )
    bucket = "\n                 + ".join(
        f"CASE WHEN {i} < bits AND d{i} > 0 THEN {1 << i} ELSE 0 END"
        for i in range(LSH_BITS_MAX)
    )
    return f"""
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    bset AS (
        SELECT coalesce(
            (SELECT min(g.b) FROM generate_series({LSH_BITS_MIN}, {LSH_BITS_MAX}) g(b), nn
             WHERE {LSH_TARGET_BUCKET_ROWS} * (1::BIGINT << g.b) >= nn.n),
            {LSH_BITS_MAX}) AS bits
    ),
    e AS (
        SELECT vec_id, embedding,
               {d_exprs}
        FROM embeddings
    ),
    bkt AS (
        SELECT vec_id, embedding,
               ({bucket}) AS bucket
        FROM e CROSS JOIN bset
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket0
        FROM bkt WHERE vec_id < {N_QUERY_VECS}
    ),
    probes AS (
        SELECT query_id, q_bucket0 AS q_bucket FROM q
        UNION ALL
        SELECT query_id, xor(q_bucket0, 1::BIGINT << g.i)
        FROM q, bset, generate_series(0, {LSH_BITS_MAX - 1}) g(i)
        WHERE g.i < bset.bits
    ),
    cand AS (
        SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
        FROM bkt c JOIN probes p ON c.bucket = p.q_bucket
        WHERE c.vec_id <> p.query_id
    ),
    sims AS (
        SELECT cand.query_id, cand.neighbor_id,
               round({_DOT_QC} / ({_NORM_Q} * {_NORM_C}), 6) AS cos_sim
        FROM cand
        JOIN (SELECT vec_id, embedding AS c_emb FROM bkt) c
          ON c.vec_id = cand.neighbor_id
        JOIN q ON q.query_id = cand.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


ANN_LSH_TOPK_SQL = _ann_lsh_topk_sql()


def _ann_ivf_topk_sql(
    fit_src: str = "embeddings", serve_where: str = "", tail: str | None = None
) -> str:
    """Exact twin of the IVF ANN — the Lloyd fit UNROLLED as plain CTEs
    (IVF_ITERS is a module constant, so the twin is generated with one
    chain per round; no recursive CTE needed) plus the probe.

    ``fit_src="base"`` twins the STALE-INDEX serving shape
    (``ann_ivf_incremental_append``): the fit CTEs (seed selection, cell
    count, Lloyd rounds) read only the historical slice — the largest
    ``n − n//10`` vec_ids cut by exact integer rank, no float percentile
    anywhere — while corpus assignment and probing still cover ALL
    vectors, arrivals included.

    Engine-neutrality argument, step by step:
    - n_cells: ``max(2, min(4096, ceil(sqrt(n))))`` characterized as the
      INTEGER ``min {c in [2, 4096] : c·c >= n}`` (else 4096) — provably
      equal (ceil∘sqrt of an int is the least integer whose square
      reaches it; pinned in tests/test_similarity.py) without trusting
      cross-engine libm sqrt rounding.
    - nprobe: ``max(2, ceil(n_cells/10))`` — pure integer arithmetic on
      both sides (similarity.py documents why Python's half-even round
      of n_cells*0.1 was abandoned).
    - seeds: smallest (md5(vec_id), vec_id), cells numbered in that
      order — md5 hex strings compare identically in both engines.
    - assignment: cosine with the SAME left-fold double dot the
      hash-green knn_bruteforce twin established; argmax via
      row_number(sim DESC, cell ASC) = Spark's max_by struct tie-break.
    - centroid update: ``floor(double(x)·1e9)`` → BIGINT, exact integer
      SUM (order-independent), then double(sum)/double(count)/1e9 —
      every double op on bit-identical operands (see
      similarity.IVF_QUANT). Spark's floor(double) is already BIGINT;
      DuckDB's floor needs the explicit cast.
    - probe/rank: round(cos, 6) + row_number — the knn convention.
    """
    from aws_saas_etl_spark.operators.similarity import (
        EMBED_DIM,
        IVF_CELLS_MAX,
        IVF_ITERS,
        IVF_NPROBE_DIV,
        IVF_QUANT,
        N_QUERY_VECS,
        TOP_K,
    )

    qlit = f"{float(IVF_QUANT)!r}"

    def dot(a_expr: str, b_expr: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, {EMBED_DIM}), "
            f"j -> CAST(({a_expr})[j] AS DOUBLE) * CAST(({b_expr})[j] AS DOUBLE)), 'sum')"
        )

    def cos(a_expr: str, b_expr: str) -> str:
        return (
            f"{dot(a_expr, b_expr)} / (sqrt({dot(a_expr, a_expr)})"
            f" * sqrt({dot(b_expr, b_expr)}))"
        )

    mean = ", ".join(
        f"(CAST(sum(CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * {qlit}) AS BIGINT)) AS DOUBLE)"
        f" / CAST(count(*) AS DOUBLE)) / {qlit}"
        for i in range(EMBED_DIM)
    )
    rounds = ""
    prev = "cent0"
    for it in range(1, IVF_ITERS + 1):
        rounds += f"""
    assign{it} AS (
        SELECT vec_id, embedding, cell FROM (
            SELECT e.vec_id, e.embedding, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {cos("e.embedding", "c.centroid")} DESC,
                                c.cell ASC) AS rn
            FROM {fit_src} e CROSS JOIN {prev} c
        ) WHERE rn = 1
    ),
    cent{it} AS (
        SELECT cell, [{mean}] AS centroid
        FROM assign{it} GROUP BY cell
    ),"""
        prev = f"cent{it}"
    base_ctes = ""
    if fit_src == "base":
        base_ctes = """nall AS (SELECT count(*) AS n FROM embeddings),
    cutv AS (
        SELECT max(vec_id) AS cut FROM (
            SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
            FROM embeddings) r, nall
        WHERE r.rn <= nall.n - nall.n // 10
    ),
    base AS (
        SELECT e.vec_id, e.embedding FROM embeddings e, cutv
        WHERE e.vec_id <= cutv.cut
    ),
    """
    return f"""
    WITH {base_ctes}nn AS (SELECT count(*) AS n FROM {fit_src}),
    ncells AS (
        SELECT coalesce(
            (SELECT min(g.c) FROM generate_series(2, {IVF_CELLS_MAX}) g(c), nn
             WHERE g.c * g.c >= nn.n),
            {IVF_CELLS_MAX}) AS n_cells
    ),
    np_ AS (
        SELECT greatest(2, (n_cells + {IVF_NPROBE_DIV - 1}) // {IVF_NPROBE_DIV})
                   AS nprobe
        FROM ncells
    ),
    cent0 AS (
        SELECT cell, embedding AS centroid FROM (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
                   embedding
            FROM {fit_src}) s, ncells
        WHERE cell < n_cells
    ),{rounds}
    corpus AS (
        SELECT vec_id AS neighbor_id, embedding AS c_emb, cell FROM (
            SELECT e.vec_id, e.embedding, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {cos("e.embedding", "c.centroid")} DESC,
                                c.cell ASC) AS rn
            FROM embeddings e CROSS JOIN {prev} c
            {f"WHERE e.{serve_where}" if serve_where else ""}
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, q_emb, cell FROM (
            SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cell,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY {cos("q.embedding", "c.centroid")} DESC,
                                c.cell ASC) AS pr
            FROM embeddings q CROSS JOIN {prev} c
            WHERE q.vec_id < {N_QUERY_VECS}
            {f"AND q.{serve_where}" if serve_where else ""}
        ), np_ WHERE pr <= nprobe
    ),
    {tail if tail is not None else f'''sims AS (
        SELECT p.query_id, c.neighbor_id,
               round({cos("p.q_emb", "c.c_emb")}, 6) AS cos_sim
        FROM corpus c JOIN probes p ON c.cell = p.cell
        WHERE c.neighbor_id <> p.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
'''}"""


ANN_IVF_TOPK_SQL = _ann_ivf_topk_sql()


def _doc_lexical_topk_sql(
    positive_only: bool = False, serve_where: str | None = None
) -> str:
    """Twin of the per-query lexical retriever: identical tokenization
    (the shared ``toks`` twin + list_distinct), exact integer
    intersection/union sizes (``list_intersect`` on distinct lists ≡
    ``array_intersect`` — the NGRAM_JACCARD-proven equivalence), one
    rounded division, (jaccard DESC, neighbor ASC) ranking. With
    ``positive_only`` candidates restrict to pairs sharing ≥ 1 token —
    the inverted-index variant's reachable set (an index cannot retrieve
    a document it shares no term with). ``serve_where`` filters the
    document set (corpus AND queries — the postings deletion-repair
    twin): postings are per-row, so filtering the stored table ≡
    rebuilding the index over the surviving corpus."""
    from aws_saas_etl_spark.operators.similarity import N_QUERY_VECS, TOP_K

    pos = "\n        AND len(list_intersect(c.tk, q.q_tk)) > 0" if positive_only else ""
    srv = f" AND {serve_where}" if serve_where else ""
    return f"""
    WITH tk AS (
        SELECT doc_id, list_distinct({toks("text")}) AS tk
        FROM documents WHERE {DOC_DROPNA}
    ),
    tk2 AS (SELECT doc_id, tk FROM tk WHERE len(tk) > 0{srv}),
    q AS (SELECT doc_id AS query_id, tk AS q_tk FROM tk2
          WHERE doc_id < {N_QUERY_VECS}),
    prs AS (
        SELECT q.query_id, c.doc_id AS neighbor_id,
               round(CAST(len(list_intersect(c.tk, q.q_tk)) AS DOUBLE)
                     / CAST(len(c.tk) + len(q.q_tk)
                            - len(list_intersect(c.tk, q.q_tk)) AS DOUBLE),
                     6) AS jaccard
        FROM tk2 c CROSS JOIN q
        WHERE c.doc_id <> q.query_id{pos}
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY jaccard DESC, neighbor_id ASC
        ) AS rank
        FROM prs
    )
    SELECT query_id, neighbor_id, jaccard, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


DOC_LEXICAL_TOPK_SQL = _doc_lexical_topk_sql()
DOC_LEXICAL_TOPK_INDEXED_SQL = _doc_lexical_topk_sql(positive_only=True)


def _doc_lexical_pruned_sql() -> str:
    """Twin of the df-pruned inverted-index retriever, written in
    POSTINGS space (the Spark plan's shape): the same tokenization CTEs,
    one exact integer df table, hot tokens = df · DF_PRUNE_DIV > n_docs,
    pruned postings via anti-membership, sizes/intersections as exact
    integer counts over the pruned rows, the same rounded division and
    tie rule. Pruning is a deterministic function of the corpus, so the
    twin is equal by construction — no tolerance anywhere."""
    from aws_saas_etl_spark.operators.similarity import (
        DF_PRUNE_DIV,
        N_QUERY_VECS,
        TOP_K,
    )

    return f"""
    WITH tk AS (
        SELECT doc_id, list_distinct({toks("text")}) AS tk
        FROM documents WHERE {DOC_DROPNA}
    ),
    tk2 AS (SELECT doc_id, tk FROM tk WHERE len(tk) > 0),
    posts AS (SELECT doc_id, unnest(tk) AS token FROM tk2),
    nd AS (SELECT count(*) AS n FROM tk2),
    hot AS (
        SELECT token FROM (
            SELECT token, count(*) AS df FROM posts GROUP BY token
        ), nd WHERE df * {DF_PRUNE_DIV} > nd.n
    ),
    p2 AS (
        SELECT doc_id, token FROM posts
        WHERE token NOT IN (SELECT token FROM hot)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_tk FROM p2 GROUP BY doc_id),
    qp AS (SELECT doc_id AS query_id, token FROM p2
           WHERE doc_id < {N_QUERY_VECS}),
    qs AS (SELECT doc_id AS query_id, n_tk AS n_q FROM sizes
           WHERE doc_id < {N_QUERY_VECS}),
    inter AS (
        SELECT qp.query_id, p2.doc_id AS neighbor_id, count(*) AS n_inter
        FROM p2 JOIN qp USING (token)
        WHERE p2.doc_id <> qp.query_id
        GROUP BY 1, 2
    ),
    prs AS (
        SELECT i.query_id, i.neighbor_id,
               round(CAST(i.n_inter AS DOUBLE)
                     / CAST(s.n_tk + q.n_q - i.n_inter AS DOUBLE), 6)
                   AS jaccard
        FROM inter i
        JOIN sizes s ON s.doc_id = i.neighbor_id
        JOIN qs q ON q.query_id = i.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY jaccard DESC, neighbor_id ASC
        ) AS rank
        FROM prs
    )
    SELECT query_id, neighbor_id, jaccard, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


DOC_LEXICAL_PRUNED_SQL = _doc_lexical_pruned_sql()


def _doc_lexical_deletion_sql() -> str:
    from aws_saas_etl_spark.operators.similarity import DELETION_MOD

    return _doc_lexical_topk_sql(
        positive_only=True, serve_where=f"doc_id % {DELETION_MOD} <> 0"
    )


DOC_LEXICAL_DELETION_SQL = _doc_lexical_deletion_sql()


def _ann_hybrid_rrf_sql(lex_sql: str | None = None) -> str:
    """Twin of the 3-arm RRF fusion: wraps the full LSH, IVF, and
    lexical oracle queries as CTE subqueries and replays the identical
    integer-rank arithmetic (CAST(1 AS DOUBLE) — a bare 1.0 literal is
    DECIMAL in DuckDB and its division would take the decimal, not the
    IEEE-double, path). The three coalesced terms sum in the same fixed
    left-to-right order as the Spark expression. RRF_K / TOP_K are
    interpolated from the query's own constants so the twin can never
    silently desynchronize (ADVICE r8). Membership pairs come from the
    UNION of the three arms' keys + per-arm LEFT JOINs — exactly the
    chained full-outer joins of the Spark plan. ``lex_sql`` swaps the
    lexical arm (the stored-stack variant serves it from the postings
    store through the INDEXED plan, whose reachable set is the
    positive-overlap twin)."""
    from aws_saas_etl_spark.operators.similarity import RRF_K

    return f"""
    WITH lsh AS (SELECT * FROM ({ANN_LSH_TOPK_SQL}) _l),
    ivf AS (SELECT * FROM ({ANN_IVF_TOPK_SQL}) _i),
    lex AS (SELECT * FROM ({lex_sql or DOC_LEXICAL_TOPK_SQL}) _x),
    pairs AS (
        SELECT query_id, neighbor_id FROM lsh
        UNION SELECT query_id, neighbor_id FROM ivf
        UNION SELECT query_id, neighbor_id FROM lex
    ),
    fused AS (
        SELECT p.query_id, p.neighbor_id,
               l.rank AS lsh_rank, i.rank AS ivf_rank, x.rank AS lex_rank
        FROM pairs p
        LEFT JOIN lsh l ON l.query_id = p.query_id
                       AND l.neighbor_id = p.neighbor_id
        LEFT JOIN ivf i ON i.query_id = p.query_id
                       AND i.neighbor_id = p.neighbor_id
        LEFT JOIN lex x ON x.query_id = p.query_id
                       AND x.neighbor_id = p.neighbor_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CASE WHEN lsh_rank IS NOT NULL THEN 1 ELSE 0 END AS in_lsh,
               CASE WHEN ivf_rank IS NOT NULL THEN 1 ELSE 0 END AS in_ivf,
               CASE WHEN lex_rank IS NOT NULL THEN 1 ELSE 0 END AS in_lex,
               round(COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + lsh_rank), 0.0)
                     + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + ivf_rank), 0.0)
                     + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + lex_rank), 0.0),
                     6) AS rrf_score
        FROM fused
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY rrf_score DESC, neighbor_id ASC
               ) AS fused_rank
        FROM scored
    )
    SELECT query_id, neighbor_id, in_lsh, in_ivf, in_lex, rrf_score, fused_rank
    FROM ranked WHERE fused_rank <= {TOP_K}
    ORDER BY query_id, fused_rank
"""


ANN_HYBRID_RRF_SQL = _ann_hybrid_rrf_sql()
ANN_HYBRID_RRF_STORED_SQL = _ann_hybrid_rrf_sql(
    lex_sql=DOC_LEXICAL_TOPK_INDEXED_SQL
)


def _ann_pq_adc_sql(
    tail: str | None = None,
    chain_only: bool = False,
    fit_base: bool | str = False,
    serve_where: str | None = None,
) -> str:
    """Exact twin of PQ + ADC search: the per-subspace quantized-integer
    Lloyd fit unrolled as plain CTEs over ALL subspaces at once (the
    exploded (vec_id, m, sub) relation mirrors the Spark single-pass
    shape), encoding as the same (l2 ASC, code ASC) argmin, and the ADC
    distance as an exact BIGINT sum of floor(1e9·l2²) table entries —
    order-independent in both engines. Every double op runs on
    bit-identical operands (subvectors cast to double once; centroids
    rebuilt from exact integer sums), so the twin is equal by
    construction, not by tolerance.

    Lifecycle variants (the ``_ann_ivf_topk_sql`` convention): with
    ``fit_base`` the codebook-fit CTEs (seeds + Lloyd rounds) restrict
    to the historical base slice (exact integer-rank cut, n − n//10
    smallest vec_ids) while encoding/queries see everything — the
    stale-codebook append twin; ``serve_where`` filters the ENCODED
    corpus and the query set (the code-table deletion-repair twin) while
    the fit sees all vectors, because the stored codebook predates the
    deletion batch."""
    from aws_saas_etl_spark.operators.similarity import (
        EMBED_DIM,
        N_QUERY_VECS,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_QUANT,
        PQ_REFINE,
        PQ_SUBDIM,
        TOP_K,
    )

    qlit = f"{float(PQ_QUANT)!r}"

    def l2(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, {PQ_SUBDIM}), "
            f"j -> (({a})[j] - ({b})[j]) * (({a})[j] - ({b})[j])), 'sum')"
        )

    def dotd(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, {EMBED_DIM}), "
            f"j -> CAST(({a})[j] AS DOUBLE) * CAST(({b})[j] AS DOUBLE)), 'sum')"
        )

    def cosd(a: str, b: str) -> str:
        return (
            f"{dotd(a, b)} / (sqrt({dotd(a, a)}) * sqrt({dotd(b, b)}))"
        )

    mean = ", ".join(
        f"(CAST(sum(CAST(floor(sub[{i + 1}] * {qlit}) AS BIGINT)) AS DOUBLE)"
        f" / CAST(count(*) AS DOUBLE)) / {qlit}"
        for i in range(PQ_SUBDIM)
    )
    fsrc = "fit_subs" if fit_base else "subs"
    base_ctes = ""
    fit_subs_cte = ""
    seed_filter = ""
    if fit_base:
        # fit_base="reuse" composes inside _ann_ivf_topk_sql(fit_src=
        # "base"), whose WITH graph already defines nall/cutv — emitting
        # them again would be a duplicate-CTE error, so only the
        # fit-slice CTEs are added and the cut is read from the outer
        # definitions (the composed stale-IVF-PQ twin).
        if fit_base is True:
            base_ctes = """nall AS (SELECT count(*) AS n FROM embeddings),
    cutv AS (
        SELECT max(vec_id) AS cut FROM (
            SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
            FROM embeddings) r, nall
        WHERE r.rn <= nall.n - nall.n // 10
    ),
    """
        fit_subs_cte = """
    fit_subs AS (
        SELECT s.* FROM subs s, cutv WHERE s.vec_id <= cutv.cut
    ),"""
        seed_filter = ", cutv WHERE vec_id <= cutv.cut"
    enc_where = f"\n            WHERE s.{serve_where}" if serve_where else ""
    qtab_and = f" AND s.{serve_where}" if serve_where else ""
    rounds = ""
    prev = "cb0"
    for it in range(1, PQ_ITERS + 1):
        rounds += f"""
    asg{it} AS (
        SELECT vec_id, m, sub, code FROM (
            SELECT s.vec_id, s.m, s.sub, c.code,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {l2("s.sub", "c.centroid")} ASC,
                                c.code ASC) AS rn
            FROM {fsrc} s JOIN {prev} c ON c.m = s.m
        ) WHERE rn = 1
    ),
    cb{it} AS (
        SELECT m, code, [{mean}] AS centroid
        FROM asg{it} GROUP BY m, code
    ),"""
        prev = f"cb{it}"
    chain = f"""{base_ctes}normed AS (
        SELECT vec_id,
               list_transform(generate_series(1, {PQ_M * PQ_SUBDIM}),
                   j -> CAST(embedding[j] AS DOUBLE) /
                        sqrt(list_aggregate(list_transform(
                            generate_series(1, {PQ_M * PQ_SUBDIM}),
                            i -> CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[i] AS DOUBLE)), 'sum')))
                   AS u
        FROM embeddings
    ),
    subs AS (
        SELECT e.vec_id, mm.m,
               list_transform(generate_series(1, {PQ_SUBDIM}),
                   j -> e.u[mm.m * {PQ_SUBDIM} + j]) AS sub
        FROM normed e CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) mm
    ),{fit_subs_cte}
    seed_ids AS (
        SELECT vec_id,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
        FROM embeddings{seed_filter}
    ),
    cb0 AS (
        SELECT s.m, d.code, s.sub AS centroid
        FROM {fsrc} s JOIN seed_ids d USING (vec_id)
        WHERE d.code < {PQ_K}
    ),{rounds}
    enc AS (
        SELECT vec_id, m, code FROM (
            SELECT s.vec_id, s.m, c.code,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {l2("s.sub", "c.centroid")} ASC,
                                c.code ASC) AS rn
            FROM subs s JOIN {prev} c ON c.m = s.m{enc_where}
        ) WHERE rn = 1
    ),
    qtab AS (
        SELECT s.vec_id AS query_id, s.m, c.code,
               CAST(floor({l2("s.sub", "c.centroid")} * {qlit}) AS BIGINT)
                   AS dint
        FROM subs s JOIN {prev} c ON c.m = s.m
        WHERE s.vec_id < {N_QUERY_VECS}{qtab_and}
    )"""
    if chain_only:
        return chain
    default_tail = f"""cand AS (
        SELECT t.query_id, e.vec_id AS neighbor_id,
               CAST(sum(t.dint) AS BIGINT) AS adc_dist
        FROM enc e JOIN qtab t ON t.m = e.m AND t.code = e.code
        GROUP BY 1, 2
    ),
    short AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, neighbor_id ASC) AS adc_rank
        FROM cand WHERE neighbor_id <> query_id
    ),
    ref AS (
        SELECT s.query_id, s.neighbor_id,
               round({cosd("eq.embedding", "en.embedding")}, 6) AS cos_sim
        FROM short s
        JOIN embeddings eq ON eq.vec_id = s.query_id
        JOIN embeddings en ON en.vec_id = s.neighbor_id
        WHERE s.adc_rank <= {PQ_REFINE}
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM ref
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""
    return f"""
    WITH {chain},
    {tail if tail is not None else default_tail}"""


ANN_PQ_ADC_SQL = _ann_pq_adc_sql()


def _ann_ivfpq_sql() -> str:
    """Twin of the composed IVF-PQ serving path: the IVF chain (fit,
    corpus cell assignment, per-query probed cells) and the PQ chain
    (normalize, subspace fits, codes, query distance tables) run as one
    CTE graph; candidates are the PQ codes of vectors in the query's
    probed cells only; ADC shortlist → exact cosine refine — each
    fragment identical to its standalone hash-proven twin, so the
    composition is engine-neutral by construction."""
    pq_chain = _ann_pq_adc_sql(chain_only=True)
    return _ann_ivf_topk_sql(tail=_ivfpq_tail(pq_chain))


def _ivfpq_tail(pq_chain: str) -> str:
    """The shared IVF-PQ tail: probed-cell candidate ADC sum, shortlist,
    exact refine, top-k — spliced after any variant of the IVF chain
    (fresh or fit_src="base") with any variant of the PQ chain (fresh or
    fit_base). Extracted verbatim from ``_ann_ivfpq_sql`` so the
    composed stale twin reuses the byte-identical fragment."""
    from aws_saas_etl_spark.operators.similarity import (
        EMBED_DIM,
        PQ_REFINE,
        TOP_K,
    )

    def dotd(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, {EMBED_DIM}), "
            f"j -> CAST(({a})[j] AS DOUBLE) * CAST(({b})[j] AS DOUBLE)), 'sum')"
        )

    def cosd(a: str, b: str) -> str:
        return f"{dotd(a, b)} / (sqrt({dotd(a, a)}) * sqrt({dotd(b, b)}))"

    return f"""{pq_chain},
    cand AS (
        SELECT t.query_id, e.vec_id AS neighbor_id,
               CAST(sum(t.dint) AS BIGINT) AS adc_dist
        FROM enc e
        JOIN qtab t ON t.m = e.m AND t.code = e.code
        JOIN corpus c ON c.neighbor_id = e.vec_id
        JOIN probes p ON p.cell = c.cell AND p.query_id = t.query_id
        GROUP BY 1, 2
    ),
    short AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, neighbor_id ASC) AS adc_rank
        FROM cand WHERE neighbor_id <> query_id
    ),
    ref AS (
        SELECT s.query_id, s.neighbor_id,
               round({cosd("eq.embedding", "en.embedding")}, 6) AS cos_sim
        FROM short s
        JOIN embeddings eq ON eq.vec_id = s.query_id
        JOIN embeddings en ON en.vec_id = s.neighbor_id
        WHERE s.adc_rank <= {PQ_REFINE}
    ),
    pq_ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM ref
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM pq_ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


ANN_IVFPQ_SQL = _ann_ivfpq_sql()


def _ann_ivfpq_incremental_sql() -> str:
    """Twin of the COMPOSED stale IVF-PQ serving path: BOTH trained
    artifacts (coarse centroids AND codebooks) fitted on the historical
    base slice — the IVF chain via ``fit_src="base"`` (which defines
    nall/cutv/base once), the PQ chain via ``fit_base="reuse"`` (fit
    CTEs read the outer cut), the shared IVF-PQ tail verbatim."""
    pq_chain = _ann_pq_adc_sql(chain_only=True, fit_base="reuse")
    return _ann_ivf_topk_sql(fit_src="base", tail=_ivfpq_tail(pq_chain))


ANN_IVFPQ_INCREMENTAL_SQL = _ann_ivfpq_incremental_sql()

def _ann_ivfpq_residual_sql() -> str:
    """Twin of RESIDUAL IVF-PQ: the proven IVF chain supplies the coarse
    fit, corpus cell assignment, and probed cells; the tail normalizes
    the final centroids, forms residuals û − ĉ_cell on bit-identical
    doubles, runs the same quantized-integer Lloyd over residual
    subvectors, and scores candidates by the exact BIGINT ADC sum whose
    (cell, m, code) join against the probed-cell query table IS the
    candidate filter — each fragment the literal arithmetic of its
    hash-proven sibling."""
    from aws_saas_etl_spark.operators.similarity import (
        EMBED_DIM,
        IVF_ITERS,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_QUANT,
        PQ_REFINE,
        PQ_SUBDIM,
        TOP_K,
    )

    qlit = f"{float(PQ_QUANT)!r}"
    cent = f"cent{IVF_ITERS}"

    def l2(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, {PQ_SUBDIM}), "
            f"j -> (({a})[j] - ({b})[j]) * (({a})[j] - ({b})[j])), 'sum')"
        )

    def dotd(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, {EMBED_DIM}), "
            f"j -> CAST(({a})[j] AS DOUBLE) * CAST(({b})[j] AS DOUBLE)), 'sum')"
        )

    def cosd(a: str, b: str) -> str:
        return f"{dotd(a, b)} / (sqrt({dotd(a, a)}) * sqrt({dotd(b, b)}))"

    mean = ", ".join(
        f"(CAST(sum(CAST(floor(sub[{i + 1}] * {qlit}) AS BIGINT)) AS DOUBLE)"
        f" / CAST(count(*) AS DOUBLE)) / {qlit}"
        for i in range(PQ_SUBDIM)
    )
    rounds = ""
    prev = "rcb0"
    for it in range(1, PQ_ITERS + 1):
        rounds += f"""
    rasg{it} AS (
        SELECT vec_id, m, sub, code FROM (
            SELECT s.vec_id, s.m, s.sub, c.code,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {l2("s.sub", "c.centroid")} ASC,
                                c.code ASC) AS rn
            FROM rsubs s JOIN {prev} c ON c.m = s.m
        ) WHERE rn = 1
    ),
    rcb{it} AS (
        SELECT m, code, [{mean}] AS centroid
        FROM rasg{it} GROUP BY m, code
    ),"""
        prev = f"rcb{it}"
    tail = f"""rnorm AS (
        SELECT vec_id,
               list_transform(generate_series(1, {EMBED_DIM}),
                   j -> CAST(embedding[j] AS DOUBLE) /
                        sqrt(list_aggregate(list_transform(
                            generate_series(1, {EMBED_DIM}),
                            i -> CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[i] AS DOUBLE)), 'sum')))
                   AS u
        FROM embeddings
    ),
    rnc AS (
        SELECT cell,
               list_transform(generate_series(1, {EMBED_DIM}),
                   j -> centroid[j] / sqrt({dotd("centroid", "centroid")}))
                   AS nc
        FROM {cent}
    ),
    rres AS (
        SELECT n.vec_id, c.cell,
               list_transform(generate_series(1, {EMBED_DIM}),
                   j -> n.u[j] - k.nc[j]) AS r
        FROM rnorm n
        JOIN corpus c ON c.neighbor_id = n.vec_id
        JOIN rnc k ON k.cell = c.cell
    ),
    rsubs AS (
        SELECT e.vec_id, e.cell, mm.m,
               list_transform(generate_series(1, {PQ_SUBDIM}),
                   j -> e.r[mm.m * {PQ_SUBDIM} + j]) AS sub
        FROM rres e CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) mm
    ),
    rseed AS (
        SELECT vec_id,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
        FROM embeddings
    ),
    rcb0 AS (
        SELECT s.m, d.code, s.sub AS centroid
        FROM rsubs s JOIN rseed d USING (vec_id)
        WHERE d.code < {PQ_K}
    ),{rounds}
    renc AS (
        SELECT vec_id, cell, m, code FROM (
            SELECT s.vec_id, s.cell, s.m, c.code,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {l2("s.sub", "c.centroid")} ASC,
                                c.code ASC) AS rn
            FROM rsubs s JOIN {prev} c ON c.m = s.m
        ) WHERE rn = 1
    ),
    rqres AS (
        SELECT p.query_id, p.cell,
               list_transform(generate_series(1, {EMBED_DIM}),
                   j -> n.u[j] - k.nc[j]) AS r
        FROM probes p
        JOIN rnorm n ON n.vec_id = p.query_id
        JOIN rnc k ON k.cell = p.cell
    ),
    rqsubs AS (
        SELECT e.query_id, e.cell, mm.m,
               list_transform(generate_series(1, {PQ_SUBDIM}),
                   j -> e.r[mm.m * {PQ_SUBDIM} + j]) AS sub
        FROM rqres e CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) mm
    ),
    rqtab AS (
        SELECT s.query_id, s.cell, s.m, c.code,
               CAST(floor({l2("s.sub", "c.centroid")} * {qlit}) AS BIGINT)
                   AS dint
        FROM rqsubs s JOIN {prev} c ON c.m = s.m
    ),
    rcand AS (
        SELECT t.query_id, e.vec_id AS neighbor_id,
               CAST(sum(t.dint) AS BIGINT) AS adc_dist
        FROM renc e
        JOIN rqtab t ON t.cell = e.cell AND t.m = e.m AND t.code = e.code
        GROUP BY 1, 2
    ),
    rshort AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, neighbor_id ASC) AS adc_rank
        FROM rcand WHERE neighbor_id <> query_id
    ),
    rref AS (
        SELECT s.query_id, s.neighbor_id,
               round({cosd("eq.embedding", "en.embedding")}, 6) AS cos_sim
        FROM rshort s
        JOIN embeddings eq ON eq.vec_id = s.query_id
        JOIN embeddings en ON en.vec_id = s.neighbor_id
        WHERE s.adc_rank <= {PQ_REFINE}
    ),
    rranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM rref
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM rranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""
    return _ann_ivf_topk_sql(tail=tail)


ANN_IVFPQ_RESIDUAL_SQL = _ann_ivfpq_residual_sql()

# Stale-codebook append serving: codebooks fitted on the historical base
# slice, arrivals encoded + searched against them without a refit.
ANN_PQ_INCREMENTAL_SQL = _ann_pq_adc_sql(fit_base=True)


def _ann_pq_deletion_sql() -> str:
    """Twin of the PQ code-table deletion repair: the codebook fit sees
    ALL vectors (the stored artifact predates the deletion batch);
    encoded corpus and query set are filtered to survivors — serving
    over the repaired code table provably equals encoding a corpus that
    never held the deleted vectors against the same codebooks."""
    from aws_saas_etl_spark.operators.similarity import DELETION_MOD

    return _ann_pq_adc_sql(serve_where=f"vec_id % {DELETION_MOD} <> 0")


ANN_PQ_DELETION_SQL = _ann_pq_deletion_sql()


def _ann_bq_hamming_sql(serve_where: str | None = None) -> str:
    """Twin of the binary-quantization search: literal-unrolled sign
    sums into two 32-bit words (the sign bit of a full 64-bit pack is
    where engine shift/overflow semantics diverge — avoided on both
    sides), bit_count(xor) Hamming, and the proven cosine refine.

    ``serve_where`` filters BOTH the candidate signatures and the query
    set (the deletion-repair twin): signatures are per-row, so filtering
    the stored table ≡ re-signing the surviving corpus — there is no fit
    CTE to scope, unlike IVF/PQ."""
    from aws_saas_etl_spark.operators.similarity import (
        BQ_REFINE,
        EMBED_DIM,
        N_QUERY_VECS,
        TOP_K,
    )

    def dotd(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, {EMBED_DIM}), "
            f"j -> CAST(({a})[j] AS DOUBLE) * CAST(({b})[j] AS DOUBLE)), 'sum')"
        )

    def cosd(a: str, b: str) -> str:
        return f"{dotd(a, b)} / (sqrt({dotd(a, a)}) * sqrt({dotd(b, b)}))"

    def half(lo: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN CAST(embedding[{lo + i + 1}] AS DOUBLE) > 0 "
            f"THEN {2**i} ELSE 0 END)"
            for i in range(32)
        )
        return f"CAST({terms} AS BIGINT)"

    srv = (
        f" AND c.{serve_where} AND q.{serve_where}" if serve_where else ""
    )
    return f"""
    WITH sigs AS (
        SELECT vec_id, {half(0)} AS sig_lo, {half(32)} AS sig_hi
        FROM embeddings
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY bit_count(xor(c.sig_lo, q.sig_lo))
                                + bit_count(xor(c.sig_hi, q.sig_hi)) ASC,
                                c.vec_id ASC) AS bq_rank
            FROM sigs c CROSS JOIN sigs q
            WHERE q.vec_id < {N_QUERY_VECS} AND c.vec_id <> q.vec_id{srv}
        ) WHERE bq_rank <= {BQ_REFINE}
    ),
    ref AS (
        SELECT s.query_id, s.neighbor_id,
               round({cosd("eq.embedding", "en.embedding")}, 6) AS cos_sim
        FROM short s
        JOIN embeddings eq ON eq.vec_id = s.query_id
        JOIN embeddings en ON en.vec_id = s.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM ref
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


ANN_BQ_HAMMING_SQL = _ann_bq_hamming_sql()


def _stream_bq_signature_sql() -> str:
    """Twin of the streaming signature ingest: the same literal-unrolled
    sign sums as the BQ search twin, reduced to the per-label audit —
    the stateless map makes emission batching-invariant, so the batch
    aggregate IS the streamed result (CAST(sum(...) AS BIGINT): DuckDB
    sums BIGINT into HUGEINT)."""

    def half(lo: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN CAST(embedding[{lo + i + 1}] AS DOUBLE) > 0 "
            f"THEN {2**i} ELSE 0 END)"
            for i in range(32)
        )
        return f"CAST({terms} AS BIGINT)"

    return f"""
    WITH sigs AS (
        SELECT label, {half(0)} AS sig_lo, {half(32)} AS sig_hi
        FROM embeddings
    )
    SELECT label, count(*) AS n_vectors,
           CAST(sum(sig_lo) AS BIGINT) AS sum_sig_lo,
           CAST(sum(sig_hi) AS BIGINT) AS sum_sig_hi
    FROM sigs GROUP BY label ORDER BY label
"""


STREAM_BQ_SIGNATURE_SQL = _stream_bq_signature_sql()


def _stream_sq8_code_sql() -> str:
    """Twin of the streaming SQ8-code ingest: the SQ8 twin's
    normalize/encode CTEs reduced to the per-label audit — the stateless
    encode makes emission batching-invariant, so the batch aggregate IS
    the streamed result. All aggregates are exact integers (codes are
    BIGINTs in [−127, 127]); outer sums cast back from DuckDB's
    HUGEINT."""
    from aws_saas_etl_spark.operators.similarity import EMBED_DIM

    return f"""
    WITH normed AS (
        SELECT label,
               list_transform(generate_series(1, {EMBED_DIM}),
                   j -> CAST(embedding[j] AS DOUBLE) /
                        sqrt(list_aggregate(list_transform(
                            generate_series(1, {EMBED_DIM}),
                            i -> CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[i] AS DOUBLE)), 'sum')))
                   AS u
        FROM embeddings
    ),
    codes AS (
        SELECT label,
               list_transform(u, x -> CAST(floor(x * 127.0 + 0.5) AS BIGINT))
                   AS c8
        FROM normed
    ),
    sums AS (
        SELECT label,
               CAST(list_aggregate(c8, 'sum') AS BIGINT) AS code_sum,
               CAST(list_aggregate(list_transform(c8, x -> x * x), 'sum')
                    AS BIGINT) AS code_sq
        FROM codes
    )
    SELECT label, count(*) AS n_vectors,
           CAST(sum(code_sum) AS BIGINT) AS sum_code_sum,
           CAST(sum(code_sq) AS BIGINT) AS sum_code_sq
    FROM sums GROUP BY label ORDER BY label
"""


STREAM_SQ8_CODE_SQL = _stream_sq8_code_sql()


def _stream_minhash_signature_sql() -> str:
    """Twin of the streaming MinHash-signature ingest: per-document
    signatures re-derived from the raw documents with the same md60 base
    hash and MINHASH_A/MINHASH_B affine constants the batch twin reads,
    reduced to the per-lang audit — signatures are a pure function of
    each document's own text, so the batch aggregate IS the streamed
    result (emission is batching-invariant). Sums run in DuckDB HUGEINT
    and cast back to BIGINT (each min < 2³¹ ⇒ exact)."""
    from aws_saas_etl_spark.operators.dedup import (
        _M31,
        MINHASH_A,
        MINHASH_B,
        MINHASH_HASHES,
    )

    mins = ",\n               ".join(
        f"list_aggregate(list_transform(sh, h -> "
        f"({MINHASH_A[i]} * (h & {_M31}) + {MINHASH_B[i]}) % {_M31}), 'min')"
        f" AS h{i}"
        for i in range(MINHASH_HASHES)
    )
    sig_sum = " + ".join(f"h{i}" for i in range(MINHASH_HASHES))
    return f"""
    WITH t AS (
        SELECT doc_id, lang, {toks('text')} AS tk FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
    ),
    shl AS (
        SELECT doc_id, lang,
               list_transform({_SHINGLES},
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS sh
        FROM t
    ),
    sig AS (
        SELECT doc_id, lang,
               {mins}
        FROM shl WHERE len(sh) > 0
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum({sig_sum}) AS BIGINT) AS sum_sig_sum,
           CAST(sum(h0) AS BIGINT) AS sum_h_first,
           CAST(sum(h{MINHASH_HASHES - 1}) AS BIGINT) AS sum_h_last
    FROM sig GROUP BY lang ORDER BY lang
"""


STREAM_MINHASH_SIGNATURE_SQL = _stream_minhash_signature_sql()


def _stream_lexical_postings_sql() -> str:
    """Twin of the streaming postings ingest: the distinct-token
    postings re-derived from the raw documents (same na.drop + distinct
    tokenization as the lexical-arm twins), reduced to the
    per-initial-letter audit. Postings are per-row state, so the batch
    aggregate IS the streamed result."""
    return f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE {DOC_DROPNA}),
    p AS (
        SELECT doc_id, unnest(list_distinct({toks('text')})) AS token
        FROM d
    )
    SELECT substr(token, 1, 1) AS initial,
           count(*) AS n_postings,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(sum(('0x' || substr(md5(token), 1, 15))::BIGINT & 4294967295)
                AS BIGINT) AS sum_tok_h32
    FROM p
    GROUP BY initial ORDER BY initial
"""


STREAM_LEXICAL_POSTINGS_SQL = _stream_lexical_postings_sql()


def _ann_sq8_sql(serve_where: str | None = None) -> str:
    """Twin of the SQ8 search: identical normalization (bit-identical
    doubles), floor(û·127 + 0.5) round-half-up int8 codes, EXACT BIGINT
    dot product as the first-pass score, and the proven cosine refine.

    ``serve_where`` filters BOTH the candidate codes and the query set
    (the deletion-repair twin): codes are per-row, so filtering the
    stored table ≡ re-encoding the surviving corpus — there is no fit
    CTE to scope, unlike IVF/PQ."""
    from aws_saas_etl_spark.operators.similarity import (
        EMBED_DIM,
        N_QUERY_VECS,
        SQ_REFINE,
        TOP_K,
    )

    def dotd(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, {EMBED_DIM}), "
            f"j -> CAST(({a})[j] AS DOUBLE) * CAST(({b})[j] AS DOUBLE)), 'sum')"
        )

    def cosd(a: str, b: str) -> str:
        return f"{dotd(a, b)} / (sqrt({dotd(a, a)}) * sqrt({dotd(b, b)}))"

    srv = (
        f" AND c.{serve_where} AND q.{serve_where}" if serve_where else ""
    )
    return f"""
    WITH normed AS (
        SELECT vec_id,
               list_transform(generate_series(1, {EMBED_DIM}),
                   j -> CAST(embedding[j] AS DOUBLE) /
                        sqrt(list_aggregate(list_transform(
                            generate_series(1, {EMBED_DIM}),
                            i -> CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[i] AS DOUBLE)), 'sum')))
                   AS u
        FROM embeddings
    ),
    codes AS (
        SELECT vec_id,
               list_transform(u, x -> CAST(floor(x * 127.0 + 0.5) AS BIGINT))
                   AS c8
        FROM normed
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY CAST(list_aggregate(list_transform(
                                    generate_series(1, {EMBED_DIM}),
                                    j -> c.c8[j] * q.c8[j]), 'sum')
                                AS BIGINT) DESC,
                                c.vec_id ASC) AS sq_rank
            FROM codes c CROSS JOIN codes q
            WHERE q.vec_id < {N_QUERY_VECS} AND c.vec_id <> q.vec_id{srv}
        ) WHERE sq_rank <= {SQ_REFINE}
    ),
    ref AS (
        SELECT s.query_id, s.neighbor_id,
               round({cosd("eq.embedding", "en.embedding")}, 6) AS cos_sim
        FROM short s
        JOIN embeddings eq ON eq.vec_id = s.query_id
        JOIN embeddings en ON en.vec_id = s.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM ref
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


ANN_SQ8_SQL = _ann_sq8_sql()


def _ann_sq8_deletion_sql() -> str:
    from aws_saas_etl_spark.operators.similarity import DELETION_MOD

    return _ann_sq8_sql(serve_where=f"vec_id % {DELETION_MOD} <> 0")


ANN_SQ8_DELETION_SQL = _ann_sq8_deletion_sql()


def _ann_bq_deletion_sql() -> str:
    from aws_saas_etl_spark.operators.similarity import DELETION_MOD

    return _ann_bq_hamming_sql(serve_where=f"vec_id % {DELETION_MOD} <> 0")


ANN_BQ_DELETION_SQL = _ann_bq_deletion_sql()
ANN_IVF_INCREMENTAL_SQL = _ann_ivf_topk_sql(fit_src="base")


def _knn_filtered_sql() -> str:
    """Twin of the pre-filter branch: the brute-force chain with the
    label-equality predicate in the candidate scan."""
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        FROM embeddings
        WHERE vec_id < {N_QUERY_VECS}
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb, label
          FROM embeddings),
    sims AS (
        SELECT query_id, neighbor_id, label,
               round({_DOT_QC} / ({_NORM_Q} * {_NORM_C}), 6) AS cos_sim
        FROM c CROSS JOIN q
        WHERE neighbor_id <> query_id AND label = q_label
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, label, cos_sim, rank FROM ranked
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


KNN_FILTERED_SQL = _knn_filtered_sql()


def _ann_ivf_filtered_sql() -> str:
    """Twin of the filtered (post-filter) vector search: the full IVF
    chain, with the label-equality predicate applied to the probed
    candidate pairs BEFORE ranking — the literal WHERE of the Spark
    plan."""
    from aws_saas_etl_spark.operators.similarity import EMBED_DIM, TOP_K

    def dotd(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, {EMBED_DIM}), "
            f"j -> CAST(({a})[j] AS DOUBLE) * CAST(({b})[j] AS DOUBLE)), 'sum')"
        )

    def cosd(a: str, b: str) -> str:
        return f"{dotd(a, b)} / (sqrt({dotd(a, a)}) * sqrt({dotd(b, b)}))"

    tail = f"""fsims AS (
        SELECT p.query_id, c.neighbor_id, el.label,
               round({cosd("p.q_emb", "c.c_emb")}, 6) AS cos_sim
        FROM corpus c
        JOIN probes p ON c.cell = p.cell
        JOIN embeddings el ON el.vec_id = c.neighbor_id
        JOIN embeddings ql ON ql.vec_id = p.query_id
        WHERE c.neighbor_id <> p.query_id AND el.label = ql.label
    ),
    franked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rank
        FROM fsims
    )
    SELECT query_id, neighbor_id, label, cos_sim, rank FROM franked
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""
    return _ann_ivf_topk_sql(tail=tail)


ANN_IVF_FILTERED_SQL = _ann_ivf_filtered_sql()


def _ann_ivfpq_filtered_sql() -> str:
    """Twin of filtered IVF-PQ: the proven IVF-PQ CTE graph with the
    label-equality predicate spliced into the candidate CTE (before the
    ADC aggregation — the literal position of the Spark plan's filter)
    and the label carried through the refine."""
    from aws_saas_etl_spark.operators.similarity import (
        EMBED_DIM,
        PQ_REFINE,
        TOP_K,
    )

    def dotd(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, {EMBED_DIM}), "
            f"j -> CAST(({a})[j] AS DOUBLE) * CAST(({b})[j] AS DOUBLE)), 'sum')"
        )

    def cosd(a: str, b: str) -> str:
        return f"{dotd(a, b)} / (sqrt({dotd(a, a)}) * sqrt({dotd(b, b)}))"

    pq_chain = _ann_pq_adc_sql(chain_only=True)
    tail = f"""{pq_chain},
    cand AS (
        SELECT t.query_id, e.vec_id AS neighbor_id, el.label,
               CAST(sum(t.dint) AS BIGINT) AS adc_dist
        FROM enc e
        JOIN qtab t ON t.m = e.m AND t.code = e.code
        JOIN corpus c ON c.neighbor_id = e.vec_id
        JOIN probes p ON p.cell = c.cell AND p.query_id = t.query_id
        JOIN embeddings el ON el.vec_id = e.vec_id
        JOIN embeddings ql ON ql.vec_id = t.query_id
        WHERE el.label = ql.label
        GROUP BY 1, 2, 3
    ),
    short AS (
        SELECT query_id, neighbor_id, label,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, neighbor_id ASC) AS adc_rank
        FROM cand WHERE neighbor_id <> query_id
    ),
    ref AS (
        SELECT s.query_id, s.neighbor_id, s.label,
               round({cosd("eq.embedding", "en.embedding")}, 6) AS cos_sim
        FROM short s
        JOIN embeddings eq ON eq.vec_id = s.query_id
        JOIN embeddings en ON en.vec_id = s.neighbor_id
        WHERE s.adc_rank <= {PQ_REFINE}
    ),
    pq_ranked AS (
        SELECT query_id, neighbor_id, label, cos_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM ref
    )
    SELECT query_id, neighbor_id, label, cos_sim, rank
    FROM pq_ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""
    return _ann_ivf_topk_sql(tail=tail)


ANN_IVFPQ_FILTERED_SQL = _ann_ivfpq_filtered_sql()


def _ann_filtered_switch_sql() -> str:
    """Twin of the selectivity switch: the branch decision replayed as
    pure integer arithmetic (label_count × n_labels > n), each branch's
    full hash-proven twin as a CTE, and the branch-assigned halves
    UNIONed — composition only, no new arithmetic."""
    from aws_saas_etl_spark.operators.similarity import N_QUERY_VECS

    return f"""
    WITH cnts AS (SELECT label, count(*) AS c FROM embeddings GROUP BY label),
    tot AS (SELECT count(*) AS n, count(DISTINCT label) AS nl
            FROM embeddings),
    qb AS (
        SELECT e.vec_id AS query_id,
               CASE WHEN cn.c * t.nl > t.n THEN 'post' ELSE 'pre' END AS branch
        FROM embeddings e
        JOIN cnts cn ON cn.label = e.label
        CROSS JOIN tot t
        WHERE e.vec_id < {N_QUERY_VECS}
    ),
    pre_b AS ({KNN_FILTERED_SQL}),
    post_b AS ({ANN_IVF_FILTERED_SQL})
    SELECT p.query_id, p.neighbor_id, p.label, p.cos_sim, p.rank,
           'pre' AS branch
    FROM pre_b p JOIN qb ON qb.query_id = p.query_id AND qb.branch = 'pre'
    UNION ALL
    SELECT p.query_id, p.neighbor_id, p.label, p.cos_sim, p.rank,
           'post' AS branch
    FROM post_b p JOIN qb ON qb.query_id = p.query_id AND qb.branch = 'post'
    ORDER BY query_id, rank
"""


ANN_FILTERED_SWITCH_SQL = _ann_filtered_switch_sql()


def _ann_ivf_deletion_sql() -> str:
    """Twin of the vector-side deletion repair: fit over ALL vectors
    (the stored index predates the deletion batch), postings and query
    set filtered to survivors."""
    from aws_saas_etl_spark.operators.similarity import DELETION_MOD

    return _ann_ivf_topk_sql(serve_where=f"vec_id % {DELETION_MOD} <> 0")


ANN_IVF_DELETION_SQL = _ann_ivf_deletion_sql()


def _ann_staleness_sql() -> str:
    """Twin of the staleness report: the three top-k twins as CTEs,
    (query_id, neighbor_id) hit joins, integer counts with coalesce-0."""
    return f"""
    WITH truth AS ({KNN_BRUTEFORCE_SQL}),
    fresh AS ({ANN_IVF_TOPK_SQL}),
    stale AS ({ANN_IVF_INCREMENTAL_SQL}),
    base AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY 1),
    fh AS (SELECT f.query_id, count(*) AS c FROM fresh f
           JOIN truth t ON f.query_id = t.query_id
                       AND f.neighbor_id = t.neighbor_id GROUP BY 1),
    sh AS (SELECT s.query_id, count(*) AS c FROM stale s
           JOIN truth t ON s.query_id = t.query_id
                       AND s.neighbor_id = t.neighbor_id GROUP BY 1),
    sf AS (SELECT s.query_id, count(*) AS c FROM stale s
           JOIN fresh f ON s.query_id = f.query_id
                       AND s.neighbor_id = f.neighbor_id GROUP BY 1)
    SELECT base.query_id, base.n_truth,
           coalesce(fh.c, 0) AS n_fresh_hits,
           coalesce(sh.c, 0) AS n_stale_hits,
           coalesce(sf.c, 0) AS n_stale_fresh_common
    FROM base
    LEFT JOIN fh ON base.query_id = fh.query_id
    LEFT JOIN sh ON base.query_id = sh.query_id
    LEFT JOIN sf ON base.query_id = sf.query_id
    ORDER BY base.query_id
"""


ANN_STALENESS_SQL = _ann_staleness_sql()


def _ann_ladder_recall_sql(sample_pct: int | None = None) -> str:
    """Twin of the ladder recall report: the brute-force truth and the
    five rung twins (IVF / SQ8 / PQ-ADC / IVF-PQ / BQ) as CTEs — each
    already hash-proven standalone — joined into per-query integer hit
    counts with coalesce-0 (the staleness-report convention). With
    ``sample_pct``, the truth CTE is restricted by the md5-bucket query
    sample (every hit CTE left-joins from it, so the restriction is the
    report's)."""
    rungs = {
        "ivf": ANN_IVF_TOPK_SQL,
        "sq": ANN_SQ8_SQL,
        "pq": ANN_PQ_ADC_SQL,
        "ivfpq": ANN_IVFPQ_SQL,
        "bq": ANN_BQ_HAMMING_SQL,
    }
    ctes = ",\n    ".join(f"{n} AS ({sql})" for n, sql in rungs.items())
    hits = ",\n    ".join(
        f"""h_{n} AS (SELECT r.query_id, count(*) AS c FROM {n} r
           JOIN truth t ON r.query_id = t.query_id
                       AND r.neighbor_id = t.neighbor_id GROUP BY 1)"""
        for n in rungs
    )
    cols = ",\n           ".join(
        f"coalesce(h_{n}.c, 0) AS n_{n}_hits" for n in rungs
    )
    joins = "\n    ".join(
        f"LEFT JOIN h_{n} ON base.query_id = h_{n}.query_id" for n in rungs
    )
    sample_where = (
        f" WHERE {_hash_bucket_sql('query_id')} < {sample_pct}"
        if sample_pct is not None
        else ""
    )
    return f"""
    WITH truth_all AS ({KNN_BRUTEFORCE_SQL}),
    truth AS (SELECT * FROM truth_all{sample_where}),
    {ctes},
    base AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY 1),
    {hits}
    SELECT base.query_id, base.n_truth,
           {cols}
    FROM base
    {joins}
    ORDER BY base.query_id
"""


ANN_LADDER_RECALL_SQL = _ann_ladder_recall_sql()


def _ann_ladder_recall_sampled_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import AUDIT_SAMPLE_PCT

    return _ann_ladder_recall_sql(sample_pct=AUDIT_SAMPLE_PCT)


ANN_LADDER_RECALL_SAMPLED_SQL = _ann_ladder_recall_sampled_sql()


def _ann_ladder_recall_sampled25_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import AUDIT_SAMPLE_PCT_LOW

    return _ann_ladder_recall_sql(sample_pct=AUDIT_SAMPLE_PCT_LOW)


ANN_LADDER_RECALL_SAMPLED25_SQL = _ann_ladder_recall_sampled25_sql()


def _ann_ladder_staleness_sql(sample_pct: int | None = None) -> str:
    """Twin of the ladder staleness report: per rung, the fresh twin and
    the stale (incremental-append) twin as CTEs joined into per-query
    integer hit counts. SQ8 and BQ carry NO trained artifact — their
    append paths are the same stateless encoder plus a store roundtrip —
    so their stale CTEs alias the fresh ones (``SELECT * FROM ...``):
    the twin STATES the exactness the report proves, rather than
    re-running an identical chain. With ``sample_pct``, the truth CTE is
    restricted by the same md5-bucket query-sample predicate the Spark
    sampled form uses (per-query rows are independent, so restricting
    truth restricts the report — every hit CTE left-joins from it)."""
    arms: dict[str, str] = {
        "ivf_fresh": f"({ANN_IVF_TOPK_SQL})",
        "ivf_stale": f"({ANN_IVF_INCREMENTAL_SQL})",
        "sq_fresh": f"({ANN_SQ8_SQL})",
        "sq_stale": "(SELECT * FROM sq_fresh)",
        "pq_fresh": f"({ANN_PQ_ADC_SQL})",
        "pq_stale": f"({ANN_PQ_INCREMENTAL_SQL})",
        "ivfpq_fresh": f"({ANN_IVFPQ_SQL})",
        "ivfpq_stale": f"({ANN_IVFPQ_INCREMENTAL_SQL})",
        "bq_fresh": f"({ANN_BQ_HAMMING_SQL})",
        "bq_stale": "(SELECT * FROM bq_fresh)",
    }
    ctes = ",\n    ".join(f"{n} AS {sql}" for n, sql in arms.items())
    hits = ",\n    ".join(
        f"""h_{n} AS (SELECT r.query_id, count(*) AS c FROM {n} r
           JOIN truth t ON r.query_id = t.query_id
                       AND r.neighbor_id = t.neighbor_id GROUP BY 1)"""
        for n in arms
    )
    cols = ",\n           ".join(
        f"coalesce(h_{n}.c, 0) AS n_{n}_hits" for n in arms
    )
    joins = "\n    ".join(
        f"LEFT JOIN h_{n} ON base.query_id = h_{n}.query_id" for n in arms
    )
    sample_where = (
        f" WHERE {_hash_bucket_sql('query_id')} < {sample_pct}"
        if sample_pct is not None
        else ""
    )
    return f"""
    WITH truth_all AS ({KNN_BRUTEFORCE_SQL}),
    truth AS (SELECT * FROM truth_all{sample_where}),
    {ctes},
    base AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY 1),
    {hits}
    SELECT base.query_id, base.n_truth,
           {cols}
    FROM base
    {joins}
    ORDER BY base.query_id
"""


ANN_LADDER_STALENESS_SQL = _ann_ladder_staleness_sql()


def _ann_ladder_staleness_sampled_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import AUDIT_SAMPLE_PCT

    return _ann_ladder_staleness_sql(sample_pct=AUDIT_SAMPLE_PCT)


ANN_LADDER_STALENESS_SAMPLED_SQL = _ann_ladder_staleness_sampled_sql()


def _ann_ladder_staleness_sampled25_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import AUDIT_SAMPLE_PCT_LOW

    return _ann_ladder_staleness_sql(sample_pct=AUDIT_SAMPLE_PCT_LOW)


ANN_LADDER_STALENESS_SAMPLED25_SQL = _ann_ladder_staleness_sampled25_sql()


def _triplet_mining_sql() -> str:
    """Twin of the hard-triplet mine: the same rounded cosine (identical
    fold order), hardest positive via (cos ASC, id ASC) rank-1 and
    hardest negative via (cos DESC, id DESC) rank-1 — exactly the
    lexicographic struct-min/struct-max tie-breaks of the Spark
    conditional aggregate — FULL-joined so a single-sided anchor keeps
    NULLs on the missing side."""
    return f"""
    WITH a AS (
        SELECT vec_id AS anchor_id, label, embedding AS q_emb FROM embeddings
        WHERE vec_id < {N_QUERY_VECS}
    ),
    o AS (SELECT vec_id AS o_id, label AS o_label, embedding AS c_emb
          FROM embeddings),
    pairs AS (
        SELECT anchor_id, label, o_id, o_label,
               round({_DOT_QC} / ({_NORM_Q} * {_NORM_C}), 6) AS cos_sim
        FROM o JOIN a ON o.o_id <> a.anchor_id
    ),
    pos AS (
        SELECT anchor_id, label, o_id AS hard_pos_id, cos_sim AS pos_sim,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY cos_sim ASC, o_id ASC) AS rn
        FROM pairs WHERE o_label = label
    ),
    neg AS (
        SELECT anchor_id, label, o_id AS hard_neg_id, cos_sim AS neg_sim,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY cos_sim DESC, o_id DESC) AS rn
        FROM pairs WHERE o_label <> label
    )
    SELECT coalesce(p.anchor_id, n.anchor_id) AS anchor_id,
           coalesce(p.label, n.label) AS label,
           hard_pos_id, pos_sim, hard_neg_id, neg_sim,
           round(pos_sim - neg_sim, 6) AS margin
    FROM (SELECT * FROM pos WHERE rn = 1) p
    FULL JOIN (SELECT * FROM neg WHERE rn = 1) n USING (anchor_id)
    ORDER BY anchor_id
"""


EMBEDDING_TRIPLET_MINING_SQL = _triplet_mining_sql()


def _neardup_sql() -> str:
    from aws_saas_etl_spark.operators.similarity import NEARDUP_COS_MIN

    return f"""
    WITH a AS (SELECT vec_id AS vec_a, label, embedding AS q_emb FROM embeddings),
    b AS (SELECT vec_id AS vec_b, label AS label_b, embedding AS c_emb FROM embeddings),
    sims AS (
        SELECT vec_a, vec_b, label,
               round({_DOT_QC} / ({_NORM_Q} * {_NORM_C}), 6) AS cos_sim
        FROM a JOIN b ON label = label_b AND vec_a < vec_b
    )
    SELECT vec_a, vec_b, label, cos_sim FROM sims
    WHERE cos_sim >= {NEARDUP_COS_MIN}
    ORDER BY vec_a, vec_b
"""


EMBEDDING_NEARDUP_SQL = _neardup_sql()

LABEL_CENTROID_SQL = """
    WITH norms AS (
        SELECT label,
               sqrt(list_aggregate(list_transform(generate_series(1, len(embedding)),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum')) AS l2
        FROM embeddings
    )
    SELECT label, count(*) AS n_vectors, CAST((CASE WHEN ((CASE WHEN (CAST(sum((CASE WHEN contains(CAST(l2 AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l2 AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) >= 0 THEN (2*(CAST(sum((CASE WHEN contains(CAST(l2 AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l2 AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) + (count(l2))) // (2*(count(l2))) ELSE -((2*(-(CAST(sum((CASE WHEN contains(CAST(l2 AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l2 AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT))) + (count(l2))) // (2*(count(l2)))) END)) >= 0 THEN (2*((CASE WHEN (CAST(sum((CASE WHEN contains(CAST(l2 AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l2 AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) >= 0 THEN (2*(CAST(sum((CASE WHEN contains(CAST(l2 AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l2 AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) + (count(l2))) // (2*(count(l2))) ELSE -((2*(-(CAST(sum((CASE WHEN contains(CAST(l2 AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l2 AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT))) + (count(l2))) // (2*(count(l2)))) END)) + (1)) // (2*(1)) ELSE -((2*(-((CASE WHEN (CAST(sum((CASE WHEN contains(CAST(l2 AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l2 AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) >= 0 THEN (2*(CAST(sum((CASE WHEN contains(CAST(l2 AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l2 AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) + (count(l2))) // (2*(count(l2))) ELSE -((2*(-(CAST(sum((CASE WHEN contains(CAST(l2 AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l2 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l2 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l2 AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT))) + (count(l2))) // (2*(count(l2)))) END))) + (1)) // (2*(1))) END) AS DOUBLE) / 1000000 AS mean_norm
    FROM norms
    GROUP BY label
    ORDER BY label
"""

EVENTS_HOURLY_SQL = f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{TS_FMT_DUCK}') AS window_start,
           event_type,
           count(*)             AS n_events,
           CAST(round(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS sum_value,
           CAST((CASE WHEN ((CASE WHEN (CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) >= 0 THEN (2*(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) + (count(value))) // (2*(count(value))) ELSE -((2*(-(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT))) + (count(value))) // (2*(count(value)))) END)) >= 0 THEN (2*((CASE WHEN (CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) >= 0 THEN (2*(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) + (count(value))) // (2*(count(value))) ELSE -((2*(-(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT))) + (count(value))) // (2*(count(value)))) END)) + (100)) // (2*(100)) ELSE -((2*(-((CASE WHEN (CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) >= 0 THEN (2*(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) + (count(value))) // (2*(count(value))) ELSE -((2*(-(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT))) + (count(value))) // (2*(count(value)))) END))) + (100)) // (2*(100))) END) AS DOUBLE) / 10000 AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

EVENTS_SLIDING_SQL = f"""
    WITH wins AS (
        SELECT e.*, time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS w_start
        FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT strftime(w_start, '{TS_FMT_DUCK}')                     AS window_start,
           strftime(w_start + INTERVAL '1 hour', '{TS_FMT_DUCK}') AS window_end,
           count(*)                 AS n_events,
           count(DISTINCT user_id)  AS n_users
    FROM wins
    GROUP BY w_start
    ORDER BY window_start
"""

# Boundary semantics (verified empirically against Spark 4.1): an event
# arriving EXACTLY gap after the previous one MERGES into the session —
# F.session_window treats [prev, prev+gap) and [prev+gap, ...) as
# overlapping (two events 10min apart at gap=10min yield ONE session with
# end = second event + gap). The strict `>` below matches: a new session
# starts only when the gap is exceeded.
EVENTS_SESSION_SQL = f"""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT *, sum(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
        ) AS sess_id
        FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '{TS_FMT_DUCK}')                          AS session_start,
           strftime(max(ts) + INTERVAL '10 minutes', '{TS_FMT_DUCK}')  AS session_end,
           count(*)             AS n_events,
           CAST(round(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id, sess_id
    ORDER BY user_id, session_start
"""

_JSON_K = "CAST(json_extract_string(props, '$.k') AS INT)"

EVENTS_JSON_SQL = f"""
    SELECT event_type,
           count(*) AS n_events,
           {davg_sql(_JSON_K, 4)} AS avg_k,
           max({_JSON_K}) AS max_k,
           min({_JSON_K}) AS min_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""

EVENTS_LATEST_SQL = f"""
    SELECT user_id, event_id,
           strftime(ts, '{TS_FMT_DUCK}') AS ts,
           event_type,
           {dround_sql("value", 2)} AS value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM events
    )
    WHERE rn = 1
"""

EVENTS_ACTIVITY_SQL = """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY 1
    ORDER BY 1
"""

# Multimodal: the SQL-computable slice of the binary-column features.
# (`ascii(substr(text,1,1))` equals the first payload byte because the
# fixture corpus is pure ASCII; empty payloads map to -1.)
MULTIMODAL_FEATURES_SQL = """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CASE WHEN octet_length(encode(text)) = 0 THEN -1
                ELSE ascii(substr(text, 1, 1)) END AS first_byte
    FROM documents
"""


# --- Relational breadth (Q2/Q7/Q14/Q19-shaped) + as-of / range joins ------

PROMO_REVENUE_SQL = """
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(round((CASE WHEN contains(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(CAST(round(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))), 9) AS DOUBLE) * 100.0
                 / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 9) AS DOUBLE) AS VARCHAR) AS DECIMAL(22,6)) END), 4) AS DOUBLE) AS promo_pct,
           CAST(round(sum((CASE WHEN contains(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE)   AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    ORDER BY 1
"""

MIN_COST_SUPPLIER_SQL = f"""
    SELECT n_name, s_suppkey, s_name, {dround_sql("s_acctbal", 2)} AS s_acctbal
    FROM (
        SELECT *, min(s_acctbal) OVER (PARTITION BY s_nationkey) AS mb
        FROM supplier
    )
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal = mb
    ORDER BY n_name, s_suppkey
"""

NATION_TRADE_SQL = """
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(round(sum((CASE WHEN contains(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND sn.n_name < cn.n_name
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""

DISJUNCTIVE_PART_SQL = """
    SELECT p_brand,
           count(*) AS n_items,
           CAST(round(sum((CASE WHEN contains(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
    GROUP BY p_brand
    ORDER BY p_brand
"""

# floor(epoch(..)) because DuckDB epoch() keeps fractional seconds while
# Spark's unix_timestamp truncates to whole seconds.
EVENTS_ASOF_SQL = f"""
    SELECT event_id, user_id,
           strftime(ts, '{TS_FMT_DUCK}')            AS purchase_ts,
           strftime(last_click_ts, '{TS_FMT_DUCK}') AS click_ts,
           CAST(floor(epoch(ts)) AS BIGINT)
             - CAST(floor(epoch(last_click_ts)) AS BIGINT) AS seconds_since_click
    FROM (
        SELECT *, last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS last_click_ts
        FROM events
    )
    WHERE event_type = 'purchase'
"""


def _value_bands_sql() -> str:
    from aws_saas_etl_spark.operators.events import VALUE_BANDS

    values = ", ".join(
        f"({i}, {lo}, {hi})" for i, (lo, hi) in enumerate(VALUE_BANDS)
    )
    return f"""
    WITH bands(band_id, lo, hi) AS (VALUES {values})
    SELECT CAST(band_id AS INT) AS band_id, lo, hi,
           count(*) AS n_events,
           CAST((CASE WHEN ((CASE WHEN (CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) >= 0 THEN (2*(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) + (count(value))) // (2*(count(value))) ELSE -((2*(-(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT))) + (count(value))) // (2*(count(value)))) END)) >= 0 THEN (2*((CASE WHEN (CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) >= 0 THEN (2*(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) + (count(value))) // (2*(count(value))) ELSE -((2*(-(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT))) + (count(value))) // (2*(count(value)))) END)) + (100)) // (2*(100)) ELSE -((2*(-((CASE WHEN (CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) >= 0 THEN (2*(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT)) + (count(value))) // (2*(count(value))) ELSE -((2*(-(CAST(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) * 1000000 AS HUGEINT))) + (count(value))) // (2*(count(value)))) END))) + (100)) // (2*(100))) END) AS DOUBLE) / 10000 AS avg_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY 1, 2, 3
    ORDER BY 1
"""


EVENTS_VALUE_BANDS_SQL = _value_bands_sql()


# --- cube / percentiles / SQL surface ------------------------------------

STATUS_CUBE_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(round(sum((CASE WHEN contains(CAST(o_totalprice AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS total_price,
           CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid, o_orderstatus, o_orderpriority
"""

PERCENTILES_SQL = f"""
    SELECT o_orderstatus,
           {dround_sql("quantile_cont(o_totalprice, 0.25)", 4)} AS p25,
           {dround_sql("quantile_cont(o_totalprice, 0.50)", 4)} AS p50,
           {dround_sql("quantile_cont(o_totalprice, 0.75)", 4)} AS p75,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

SQL_INTERFACE_SQL = """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(round(sum((CASE WHEN contains(CAST(o_totalprice AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


LARGE_VOLUME_SQL = f"""
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           {dround_sql("o_totalprice", 2)} AS o_totalprice,
           total_qty
    FROM (
        SELECT l_orderkey, CAST(round(sum((CASE WHEN contains(CAST(l_quantity AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_quantity AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING total_qty > 150.0
    )
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_qty DESC, o_orderkey ASC
    LIMIT 100
"""

RETURNED_LOSSES_SQL = """
    SELECT c_custkey, c_name, n_name,
           CAST(round(sum((CASE WHEN contains(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS lost_revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY lost_revenue DESC, c_custkey ASC
    LIMIT 20
"""


FORECAST_REVENUE_SQL = """
    SELECT CAST(round(sum((CASE WHEN contains(CAST(l_extendedprice * l_discount AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice * l_discount AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l_extendedprice * l_discount AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS potential_revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
"""

SMALL_QTY_SQL = """
    SELECT p_brand,
           count(*) AS n_small_items,
           CAST(round(sum((CASE WHEN contains(CAST(l_extendedprice AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(l_extendedprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS small_item_revenue
    FROM (
        SELECT l_partkey, l_quantity, l_extendedprice,
               avg(l_quantity) OVER (PARTITION BY l_partkey) AS part_avg_qty
        FROM lineitem
    )
    JOIN part ON l_partkey = p_partkey
    WHERE l_quantity < 0.5 * part_avg_qty
    GROUP BY p_brand
    ORDER BY p_brand
"""


MARKET_SHARE_SQL = f"""
    WITH base AS (
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               l_extendedprice * (1 - l_discount) AS vol,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
    ),
    agg AS (
        SELECT order_year,
               {dsum_sql("CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0.0 END", 2)} AS target_revenue,
               {dsum_sql("vol", 2)} AS total_revenue
        FROM base GROUP BY order_year
    )
    SELECT order_year, target_revenue, total_revenue,
           {dround_sql("target_revenue / total_revenue", 6)} AS mkt_share
    FROM agg ORDER BY order_year
"""

LINESTATUS_PRIORITY_SQL = """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
"""

CUSTOMER_DISTRIBUTION_SQL = """
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS n_customers
    FROM per_cust
    GROUP BY c_count
    ORDER BY n_customers DESC, c_count DESC
"""

TOP_REVENUE_SUPPLIER_SQL = f"""
    WITH sup_rev AS (
        SELECT l_suppkey,
               {dsum_sql("l_extendedprice * (1 - l_discount)", 2)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM sup_rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM sup_rev)
    ORDER BY s_suppkey
"""

# Stated as the literal Q21 EXISTS / NOT EXISTS pair — an independent
# derivation of the engine's aggregate reformulation (relational.py
# exclusively_late_suppliers), so the check is not a tautology.
EXCLUSIVELY_LATE_SQL = """
    SELECT s_suppkey, s_name, count(DISTINCT l1.l_orderkey) AS n_waiting_orders
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders      ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s_suppkey, s_name
    ORDER BY n_waiting_orders DESC, s_name
    LIMIT 20
"""

PROSPECTIVE_CUSTOMERS_SQL = f"""
    WITH cust AS (
        SELECT c_custkey, substr(c_name, 17, 2) AS code, c_acctbal
        FROM customer
        WHERE substr(c_name, 17, 2) IN ('13', '31', '23', '29', '30', '18', '17')
    ),
    ab AS (
        SELECT {davg_sql("c_acctbal", 4)} AS avg_bal
        FROM cust WHERE c_acctbal > 0
    )
    SELECT code,
           count(*) AS n_customers,
           {dsum_sql("c_acctbal", 2)} AS total_acctbal
    FROM cust, ab
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
      )
    GROUP BY code
    ORDER BY code
"""


# ---- Training-data filter pipeline / vocabulary / centroid assignment ----

def _filter_pipeline_sql() -> str:
    from aws_saas_etl_spark.operators.textops import (
        FILTER_MIN_QUALITY,
        FILTER_MIN_TOKENS,
    )

    score_cols = ",\n           ".join(
        f"{lexicon_count('tk', stops)} AS s_{lang}"
        for lang, stops in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    greatest_all = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    # Same fold order as functions.text.quality_score: (0.4*len + 0.3*alpha)
    # + 0.3*diversity, all double — raw (unrounded) so the threshold compare
    # sees the identical IEEE value both engines compute.
    quality = (
        "(0.4 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) "
        "+ 0.3 * (CASE WHEN length(text) > 0 "
        "THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / CAST(length(text) AS DOUBLE) "
        "ELSE 0.0 END) "
        "+ 0.3 * (CASE WHEN len(tk) > 0 "
        "THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) ELSE 0.0 END))"
    )
    return f"""
    WITH base AS (
        SELECT doc_id, text, {toks('text')} AS tk,
               min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper
        FROM documents
        WHERE {DOC_DROPNA}
    ),
    s AS (SELECT *, {score_cols} FROM base)
    SELECT doc_id,
           CASE
             WHEN doc_id <> keeper THEN 'exact_dup'
             WHEN len(tk) < {FILTER_MIN_TOKENS} THEN 'too_short'
             WHEN {greatest_all} = 0 THEN 'lang_unknown'
             WHEN {quality} < {FILTER_MIN_QUALITY} THEN 'low_quality'
             ELSE 'keep'
           END AS verdict
    FROM s
    ORDER BY doc_id
"""


DOC_FILTER_PIPELINE_SQL = _filter_pipeline_sql()


def _corpus_vocab_sql() -> str:
    from aws_saas_etl_spark.operators.textops import VOCAB_MIN_COUNT

    return f"""
    WITH tok AS (
        SELECT doc_id, unnest({toks('text')}) AS token FROM documents
    ),
    vocab AS (
        SELECT token, count(*) AS term_count, count(DISTINCT doc_id) AS doc_freq
        FROM tok GROUP BY token
        HAVING count(*) >= {VOCAB_MIN_COUNT}
    )
    SELECT token, term_count, doc_freq,
           CAST(row_number() OVER (ORDER BY term_count DESC, token) AS INT) AS rank
    FROM vocab
    ORDER BY rank
"""


CORPUS_VOCAB_SQL = _corpus_vocab_sql()


def _centroid_assign_sql() -> str:
    from aws_saas_etl_spark.operators.similarity import K_CENTROIDS

    return f"""
    WITH c AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < {K_CENTROIDS}
    ),
    v AS (SELECT vec_id, embedding AS q_emb FROM embeddings),
    sims AS (
        SELECT vec_id, centroid_id,
               round({_DOT_QC} / ({_NORM_Q} * {_NORM_C}), 6) AS cos_sim
        FROM v CROSS JOIN c
    ),
    best AS (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id
        ) AS rn
        FROM sims
    )
    SELECT centroid_id, count(*) AS n_assigned, {davg_sql("cos_sim", 6)} AS mean_cos
    FROM best WHERE rn = 1
    GROUP BY centroid_id
    ORDER BY centroid_id
"""


CENTROID_ASSIGN_SQL = _centroid_assign_sql()


def _click_attribution_sql() -> str:
    from aws_saas_etl_spark.operators.events import ATTRIBUTION_HORIZON_MIN

    return f"""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) AS BIGINT)
             - CAST(floor(epoch(c.ts)) AS BIGINT) AS secs_to_purchase,
           {dround_sql("p.value", 2)} AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL {ATTRIBUTION_HORIZON_MIN} MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ORDER BY click_id, purchase_id
"""


EVENTS_CLICK_ATTRIBUTION_SQL = _click_attribution_sql()


# --------------------------------------------------------------------------
# Relational breadth III: Q9/Q11/Q16/Q20 shapes
# --------------------------------------------------------------------------

NATION_PROFIT_SQL = f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS order_year,
           {dsum_sql(
               "l_extendedprice * (1 - l_discount)"
               " - 0.6 * p_retailprice * l_quantity", 2)} AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, order_year DESC
"""


IMPORTANT_PART_SQL = f"""
    WITH per_part AS (
        SELECT l_partkey,
               {dsum_sql("l_extendedprice * (1 - l_discount)", 2)} AS part_value
        FROM lineitem GROUP BY l_partkey
    ),
    thresh AS (
        SELECT {davg_sql("part_value", 4)} * 1.5 AS cutoff FROM per_part
    )
    SELECT l_partkey, part_value
    FROM per_part CROSS JOIN thresh
    WHERE part_value > cutoff
    ORDER BY part_value DESC, l_partkey
"""


SUPPLIER_PART_ATTRS_SQL = """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#17'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 4, 9, 14, 23, 36, 45, 50)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


BULK_SUPPLIERS_SQL = f"""
    WITH ps_qty AS (
        SELECT l_partkey, l_suppkey,
               {dsum_sql("l_quantity", 2)} AS supp_qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red%'
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_partkey, l_suppkey
    ),
    part_avg AS (
        SELECT l_partkey AS ap_partkey, {davg_sql("supp_qty", 4)} AS avg_qty
        FROM ps_qty GROUP BY l_partkey
    ),
    heavy AS (
        SELECT DISTINCT l_suppkey
        FROM ps_qty JOIN part_avg ON l_partkey = ap_partkey
        WHERE supp_qty > 1.5 * avg_qty
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
    WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
    ORDER BY s_name
"""


# --------------------------------------------------------------------------
# Round 2: repetition metrics, PII scrub, resample+LOCF, unpivot
# --------------------------------------------------------------------------

DOC_REPETITION_SQL = f"""
    WITH d AS (
        SELECT doc_id, {toks('text')} AS tk FROM documents WHERE {DOC_DROPNA}
    ),
    base AS (
        SELECT doc_id, tk,
               CASE WHEN len(tk) >= 2
                    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                    ELSE [] END AS bg
        FROM d
    ),
    tok_counts AS (
        SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id, unnest(tk) AS g FROM base) GROUP BY doc_id, g
    ),
    tok_stats AS (
        SELECT doc_id, max(cnt) AS tok_max, sum(cnt) AS tok_total,
               sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS tok_dup
        FROM tok_counts GROUP BY doc_id
    ),
    bg_counts AS (
        SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id, unnest(bg) AS g FROM base) GROUP BY doc_id, g
    ),
    bg_stats AS (
        SELECT doc_id, max(cnt) AS bg_max, sum(cnt) AS bg_total
        FROM bg_counts GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(coalesce(tok_total, 0) AS BIGINT) AS n_tokens,
           {dround_sql("coalesce(CAST(tok_max AS DOUBLE) / tok_total, 0.0)", 6)} AS top_token_frac,
           {dround_sql("coalesce(CAST(tok_dup AS DOUBLE) / tok_total, 0.0)", 6)} AS dup_token_frac,
           {dround_sql("coalesce(CAST(bg_max AS DOUBLE) / bg_total, 0.0)", 6)} AS top_bigram_frac
    FROM base b
    LEFT JOIN tok_stats t USING (doc_id)
    LEFT JOIN bg_stats g USING (doc_id)
"""


def _pii_sql() -> str:
    from aws_saas_etl_spark.operators.textops import EMAIL_RE, URL_RE

    email, url = EMAIL_RE.replace("'", "''"), URL_RE.replace("'", "''")
    return f"""
    WITH p AS (
        SELECT doc_id,
               text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
                    || ' https://ex.io/d/' || CAST(doc_id AS VARCHAR) AS planted
        FROM documents WHERE {DOC_DROPNA}
    )
    SELECT doc_id,
           len(regexp_extract_all(planted, '{email}')) AS n_emails,
           len(regexp_extract_all(planted, '{url}')) AS n_urls,
           md5(regexp_replace(regexp_replace(planted, '{url}', '<URL>', 'g'),
                              '{email}', '<EMAIL>', 'g')) AS redacted_md5
    FROM p
"""


DOC_PII_SQL = _pii_sql()


EVENTS_RESAMPLE_LOCF_SQL = f"""
    WITH ev AS (
        SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour,
               {davg_sql("value", 4)} AS avg_value,
               count(*) AS n_events
        FROM ev GROUP BY user_id, date_trunc('hour', ts)
    ),
    spans AS (
        SELECT user_id, date_trunc('hour', min(ts)) AS h0,
               date_trunc('hour', max(ts)) AS h1
        FROM ev GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM spans
    )
    SELECT g.user_id,
           strftime(g.hour, '{TS_FMT_DUCK}') AS hour,
           coalesce(h.n_events, 0) AS n_events,
           last_value(h.avg_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_locf,
           CASE WHEN h.avg_value IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
    ORDER BY g.user_id, g.hour
"""


LINEITEM_UNPIVOT_SQL = f"""
    WITH wide AS (
        SELECT l_returnflag,
               {dsum_sql("l_quantity", 2)} AS sum_qty,
               {dsum_sql("l_extendedprice", 2)} AS sum_price,
               CAST(count(*) AS DOUBLE) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, measure, value FROM (
        SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM wide
        UNION ALL
        SELECT l_returnflag, 'n_rows', n_rows FROM wide
    )
    ORDER BY l_returnflag, measure
"""


def _packing_sql() -> str:
    from aws_saas_etl_spark.operators.textops import NUM_PACK_SHARDS, PACK_CONTEXT

    c, s = PACK_CONTEXT, NUM_PACK_SHARDS
    return f"""
    WITH base AS (
        SELECT doc_id, doc_id % {s} AS shard,
               len(regexp_extract_all(text, {_BPE_RE_SQL})) AS n_tokens
        FROM documents WHERE {DOC_DROPNA}
    ),
    packed AS (
        SELECT *,
               sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS start_offset
        FROM base
    )
    SELECT doc_id, shard, n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(floor(start_offset / {c}) AS BIGINT) AS start_window,
           CAST(floor((start_offset + n_tokens - 1) / {c}) AS BIGINT) AS end_window,
           CASE WHEN floor((start_offset + n_tokens - 1) / {c})
                     > floor(start_offset / {c}) THEN 1 ELSE 0 END AS spans_boundary
    FROM packed
"""


DOC_PACKING_SQL = _packing_sql()


DOC_LENGTH_HIST_SQL = f"""
    WITH b AS (
        SELECT CASE WHEN len(regexp_extract_all(text, {_BPE_RE_SQL})) <= 0 THEN -1
                    ELSE CAST(floor(log2(CAST(
                        len(regexp_extract_all(text, {_BPE_RE_SQL})) AS DOUBLE
                    ))) AS BIGINT) END AS log2_bucket
        FROM documents WHERE {DOC_DROPNA}
    )
    SELECT log2_bucket, count(*) AS n_docs
    FROM b GROUP BY log2_bucket ORDER BY log2_bucket
"""


def _contamination_sql() -> str:
    from aws_saas_etl_spark.functions.text import WINNOW_K, WINNOW_W
    from aws_saas_etl_spark.operators.textops import CONTAM_MAX_DF, CONTAM_MIN_SHARED

    k, w = WINNOW_K, WINNOW_W
    h = _winnow_kgram_hash_sql(f"substr(txt, i, {k})")
    return f"""
    WITH t AS (SELECT doc_id, {_NORM_TEXT} AS txt FROM documents WHERE {DOC_DROPNA}),
    g AS (
        SELECT doc_id,
               CASE WHEN length(txt) >= {k}
                    THEN list_transform(generate_series(1, length(txt) - {k - 1}),
                         i -> {h})
                    ELSE CAST([] AS BIGINT[]) END AS hs
        FROM t
    ),
    wmin AS (
        SELECT doc_id,
               CASE WHEN len(hs) >= {w}
                    THEN list_sort(list_distinct(
                         list_transform(generate_series(1, len(hs) - {w - 1}),
                         j -> list_aggregate(hs[j:j+{w - 1}], 'min'))))
                    ELSE CAST([] AS BIGINT[]) END AS fps
        FROM g
    ),
    ex AS (SELECT doc_id, unnest(fps) AS fp FROM wmin),
    rare AS (
        SELECT ex.doc_id, ex.fp FROM ex
        JOIN (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= {CONTAM_MAX_DF}) r
          ON ex.fp = r.fp
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    HAVING count(*) >= {CONTAM_MIN_SHARED}
    ORDER BY doc_a, doc_b
"""


DOC_CONTAMINATION_SQL = _contamination_sql()


def _per_type_sample_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import PER_GROUP_K

    return f"""
    WITH e AS (
        SELECT event_id, event_type, user_id,
               md5(CAST(event_id AS VARCHAR)) AS sample_key
        FROM events WHERE event_id IS NOT NULL AND event_type IS NOT NULL
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY sample_key, event_id
        ) AS sample_rank FROM e
    )
    SELECT event_type, sample_rank, event_id, user_id
    FROM r WHERE sample_rank <= {PER_GROUP_K}
    ORDER BY event_type, sample_rank
"""


EVENTS_PER_TYPE_SAMPLE_SQL = _per_type_sample_sql()


def _deciles_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import N_DECILES

    n = N_DECILES
    fracs = ", ".join(str(i / n) for i in range(1, n))
    return f"""
    WITH cuts AS (
        SELECT quantile_cont(c_acctbal, [{fracs}]) AS cuts FROM customer
    ),
    b AS (
        SELECT c_acctbal,
               1 + len(list_filter(cuts, c -> c_acctbal > c)) AS decile
        FROM customer CROSS JOIN cuts
    )
    SELECT decile, count(*) AS n_customers,
           {dround_sql("min(c_acctbal)", 2)} AS min_bal,
           {dround_sql("max(c_acctbal)", 2)} AS max_bal,
           {davg_sql("c_acctbal", 4)} AS avg_bal
    FROM b GROUP BY decile ORDER BY decile
"""


CUSTOMER_DECILES_SQL = _deciles_sql()


EVENTS_FUNNEL_SQL = """
    WITH per_user AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
        GROUP BY day, user_id
    )
    SELECT day,
           count(t_view) AS n_viewed,
           count(CASE WHEN t_click > t_view THEN 1 END) AS n_clicked_after_view,
           count(CASE WHEN t_click > t_view AND t_purchase > t_click
                      THEN 1 END) AS n_purchased_after_click
    FROM per_user
    GROUP BY day
    ORDER BY day
"""


REVENUE_GROUPING_SETS_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
               AS grouping_set_id,
           {dsum_sql("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY grouping_set_id, l_returnflag, l_linestatus
"""


def _retention_sql() -> str:
    from aws_saas_etl_spark.operators.events import RETENTION_MAX_OFFSET

    return f"""
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    first AS (
        SELECT user_id, min(day) AS cohort_day FROM active GROUP BY user_id
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           (day - cohort_day) AS day_offset,
           count(DISTINCT a.user_id) AS n_active
    FROM active a JOIN first f USING (user_id)
    WHERE (day - cohort_day) <= {RETENTION_MAX_OFFSET}
    GROUP BY cohort_day, day_offset
    ORDER BY cohort_day, day_offset
"""


EVENTS_RETENTION_SQL = _retention_sql()


def _rfm_sql() -> str:
    from aws_saas_etl_spark.operators.relational import RFM_QUANTILES

    qs = ", ".join(str(q) for q in RFM_QUANTILES)
    score = lambda col, cuts: f"1 + len(list_filter({cuts}, c -> {col} > c))"  # noqa: E731
    return f"""
    WITH per_cust AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               count(*) AS frequency,
               {dsum_sql("o_totalprice", 2)} AS monetary
        FROM orders GROUP BY o_custkey
    ),
    anchor AS (SELECT max(last_order) AS anchor FROM per_cust),
    base AS (
        SELECT o_custkey,
               datediff('day', last_order, anchor) AS recency_days,
               frequency, monetary
        FROM per_cust CROSS JOIN anchor
    ),
    cuts AS (
        SELECT quantile_cont(recency_days, [{qs}]) AS rc,
               quantile_cont(frequency, [{qs}]) AS fc,
               quantile_cont(monetary, [{qs}]) AS mc
        FROM base
    )
    SELECT (6 - ({score("recency_days", "rc")})) AS r_score,
           {score("frequency", "fc")} AS f_score,
           {score("monetary", "mc")} AS m_score,
           count(*) AS n_customers
    FROM base CROSS JOIN cuts
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
"""


CUSTOMER_RFM_SQL = _rfm_sql()


DOC_UNIGRAM_LOGPROB_SQL = f"""
    WITH tok AS (
        SELECT doc_id, unnest({toks('text')}) AS token
        FROM documents WHERE {DOC_DROPNA}
    ),
    counts AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    total AS (SELECT count(*) AS n_total FROM tok)
    SELECT doc_id,
           count(*) AS n_tokens,
           {davg_sql("-ln(CAST(c AS DOUBLE) / n_total)", 6)} AS mean_neg_logp
    FROM tok JOIN counts USING (token) CROSS JOIN total
    GROUP BY doc_id
    ORDER BY doc_id
"""


def _bigram_lm_sql() -> str:
    from aws_saas_etl_spark.operators.textops import BIGRAM_MIN_COUNT, BIGRAM_TOP_K

    return f"""
    WITH t AS (SELECT {toks('text')} AS tk FROM documents WHERE {DOC_DROPNA}),
    bg AS (
        SELECT unnest(CASE WHEN len(tk) >= 2
                   THEN list_transform(range(1, len(tk)),
                        i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))
                   ELSE [] END) AS g
        FROM t
    ),
    pairs AS (SELECT g.w1 AS w1, g.w2 AS w2 FROM bg),
    bgc AS (
        SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
        HAVING count(*) >= {BIGRAM_MIN_COUNT}
    ),
    ctx AS (SELECT w1 AS cw, count(*) AS c1 FROM pairs GROUP BY w1),
    scored AS (
        SELECT w1, w2, c12, c1,
               {dround_sql("CAST(c12 AS DOUBLE) / c1", 6)} AS p_cond
        FROM bgc JOIN ctx ON w1 = cw
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY w1 ORDER BY p_cond DESC, w2
        ) AS rank FROM scored
    )
    SELECT w1, w2, c12, c1, p_cond, rank
    FROM ranked WHERE rank <= {BIGRAM_TOP_K}
    ORDER BY w1, rank
"""


CORPUS_BIGRAM_LM_SQL = _bigram_lm_sql()


def _anomaly_sql() -> str:
    from aws_saas_etl_spark.operators.events import ANOMALY_Z

    return f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS c
        FROM events WHERE ts IS NOT NULL
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    stats AS (
        SELECT event_type AS et, count(*) AS n_hours,
               sum(c) AS s1, sum(c * c) AS s2
        FROM hourly GROUP BY event_type
    ),
    scored AS (
        SELECT event_type, strftime(hour, '{TS_FMT_DUCK}') AS hour, c,
               {dround_sql(
                   "(c - CAST(s1 AS DOUBLE) / n_hours)"
                   " / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_hours)"
                   " / (n_hours - 1))", 4)} AS z_score
        FROM hourly JOIN stats ON event_type = et
        WHERE n_hours > 1
          AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_hours)
              / (n_hours - 1) > 0
    )
    SELECT * FROM scored WHERE abs(z_score) >= {ANOMALY_Z}
    ORDER BY event_type, hour
"""


EVENTS_ANOMALY_SQL = _anomaly_sql()


# SCD2 history: engine-neutral window twin — row_number + lead over the
# same (user_id, ts, event_id) order; strftime(NULL) is NULL, matching
# date_format on the open-ended current version.
EVENTS_SCD2_SQL = f"""
    SELECT user_id,
           row_number() OVER w AS version_no,
           strftime(ts, '{TS_FMT_DUCK}') AS valid_from,
           strftime(lead(ts) OVER w, '{TS_FMT_DUCK}') AS valid_to,
           CAST(lead(ts) OVER w IS NULL AS INT) AS is_current,
           {dround_sql("value", 2)} AS value
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def _bm25_sql() -> str:
    from aws_saas_etl_spark.operators.textops import (
        BM25_B,
        BM25_K1,
        BM25_QUERY_TERMS,
    )

    # identical double literals and expression nesting as the Spark side:
    # constants embedded via repr (round-trips to the same double), per-term
    # partials summed left-to-right
    k1, b = repr(BM25_K1), repr(BM25_B)
    k1p1, one_m_b = repr(BM25_K1 + 1.0), repr(1.0 - BM25_B)
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"

    def partial(t: str) -> str:
        tf = f"CAST(tf_{t} AS DOUBLE)"
        df = f"CAST(df_{t} AS DOUBLE)"
        idf = (
            f"ln((CAST(n_docs AS DOUBLE) - {df} + 0.5) / ({df} + 0.5) + 1.0)"
        )
        denom = f"({tf} + {k1} * ({one_m_b} + {b} * (CAST(dl AS DOUBLE) / {avgdl})))"
        return f"{idf} * ({tf} * {k1p1}) / {denom}"

    score = " + ".join(partial(t) for t in BM25_QUERY_TERMS)
    dfs = ",\n               ".join(
        f"sum(CAST(list_contains(tk, '{t}') AS BIGINT)) AS df_{t}"
        for t in BM25_QUERY_TERMS
    )
    tfs = ",\n               ".join(
        f"len(list_filter(tk, x -> x = '{t}')) AS tf_{t}"
        for t in BM25_QUERY_TERMS
    )
    tf_cols = ", ".join(f"tf_{t}" for t in BM25_QUERY_TERMS)
    any_hit = " + ".join(f"tf_{t}" for t in BM25_QUERY_TERMS)
    return f"""
    WITH base AS (
        SELECT doc_id, {toks('text')} AS tk FROM documents WHERE {DOC_DROPNA}
    ),
    b AS (SELECT doc_id, tk, len(tk) AS dl FROM base),
    stats AS (
        SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
               {dfs}
        FROM b
    ),
    tf AS (
        SELECT doc_id, dl,
               {tfs}
        FROM b
    )
    SELECT doc_id, dl AS n_tokens, {tf_cols},
           {dround_sql(score, 4)} AS bm25
    FROM tf CROSS JOIN stats
    WHERE {any_hit} > 0
    ORDER BY doc_id
"""


DOC_BM25_SQL = _bm25_sql()


def _mixture_sample_sql() -> str:
    from aws_saas_etl_spark.operators.sampling import (
        MIXTURE_DEFAULT_PCT,
        MIXTURE_WEIGHTS,
    )

    whens = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in sorted(MIXTURE_WEIGHTS.items())
    )
    pct = f"(CASE {whens} ELSE {MIXTURE_DEFAULT_PCT} END)"
    b = _hash_bucket_sql("doc_id")
    return f"""
    WITH t AS (
        SELECT source,
               {pct} AS target_pct,
               CASE WHEN {b} < {pct} THEN 1 ELSE 0 END AS kept,
               CASE WHEN {b} < {pct} THEN len({toks('text')}) ELSE 0 END AS kept_toks
        FROM documents WHERE {DOC_DROPNA}
    )
    SELECT source, target_pct, count(*) AS n_total,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(kept_toks) AS BIGINT) AS n_tokens_kept,
           {dround_sql("sum(kept) / CAST(count(*) AS DOUBLE) * 100", 4)} AS realized_pct
    FROM t GROUP BY source, target_pct ORDER BY source
"""


CORPUS_MIXTURE_SQL = _mixture_sample_sql()


def _cms_sql() -> str:
    from aws_saas_etl_spark.operators.textops import (
        CMS_DEPTH,
        CMS_PROBE_TOP_K,
        CMS_WIDTH,
    )

    b = _hash_bucket_sql("(CAST(row_i AS VARCHAR) || ':' || token)", CMS_WIDTH)
    rows = ", ".join(str(i) for i in range(CMS_DEPTH))
    return f"""
    WITH tok AS (
        SELECT unnest({toks('text')}) AS token
        FROM documents WHERE {DOC_DROPNA}
    ),
    counts AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    seeded AS (
        SELECT token, c, unnest([{rows}]) AS row_i FROM counts
    ),
    cells AS (
        SELECT row_i, {b} AS bucket, CAST(sum(c) AS BIGINT) AS cell_n
        FROM seeded GROUP BY 1, 2
    ),
    topk AS (
        SELECT token, c FROM counts ORDER BY c DESC, token LIMIT {CMS_PROBE_TOP_K}
    ),
    probes AS (
        SELECT token, c, unnest([{rows}]) AS row_i FROM topk
    )
    SELECT p.token, p.c AS exact_n,
           min(cells.cell_n) AS cms_estimate,
           min(cells.cell_n) - p.c AS overcount
    FROM (SELECT token, c, row_i, {b} AS bucket FROM probes) p
    JOIN cells ON p.row_i = cells.row_i AND p.bucket = cells.bucket
    GROUP BY p.token, p.c
    ORDER BY exact_n DESC, p.token
"""


CORPUS_CMS_SQL = _cms_sql()


def _table_profile_sql() -> str:
    from aws_saas_etl_spark.operators.etl import PROFILE_COLS

    def render(expr: str, kind: str) -> str:
        if kind == "double":
            return f"CAST((CASE WHEN contains(CAST({expr} AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST({expr} AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST({expr} AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST({expr} AS VARCHAR) AS DECIMAL(22,6)) END) AS VARCHAR)"
        return f"CAST({expr} AS VARCHAR)"

    stats = ["count(*) AS n_rows"]
    arms = []
    for c, kind, want_distinct in PROFILE_COLS:
        stats.append(f"count({c}) AS nn_{c}")
        stats.append(f"{render(f'min({c})', kind)} AS mn_{c}")
        stats.append(f"{render(f'max({c})', kind)} AS mx_{c}")
        nd = f"CAST(nd_{c} AS BIGINT)" if want_distinct else "CAST(NULL AS BIGINT)"
        if want_distinct:
            stats.append(f"count(DISTINCT {c}) AS nd_{c}")
        arms.append(
            f"SELECT '{c}' AS column_name, n_rows, n_rows - nn_{c} AS n_nulls,\n"
            f"       {nd} AS n_distinct, mn_{c} AS min_value, mx_{c} AS max_value\n"
            f"FROM s"
        )
    union = "\nUNION ALL\n".join(arms)
    return f"""
    WITH s AS (SELECT {", ".join(stats)} FROM lineitem)
    {union}
    ORDER BY column_name
"""


TABLE_PROFILE_SQL = _table_profile_sql()


def _fuzzy_match_sql() -> str:
    """Adaptive blocking twin: k = smallest suffix length ≥ 2 with
    10^k · ER_TARGET_BLOCK ≥ count(*) — the same integer rule as
    ``dedup.er_block_suffix_len``, unrolled as an exact CASE ladder
    (covers n up to 10^9 · target; beyond that both sides need a longer
    ladder — ``er_block_suffix_len`` asserts k ≤ 9 so the Spark path
    fails loudly instead of silently diverging from this twin)."""
    from aws_saas_etl_spark.operators.dedup import ER_MAX_EDITS, ER_TARGET_BLOCK

    ladder = " ".join(
        f"WHEN n <= {10**k * ER_TARGET_BLOCK} THEN {k}" for k in range(2, 9)
    )
    return f"""
    WITH params AS (
        SELECT (CASE {ladder} ELSE 9 END) AS k
        FROM (SELECT count(*) AS n FROM customer)
    ),
    c AS (
        SELECT c_custkey, c_name, c_nationkey,
               substr(c_name, length(c_name) - k + 1, k) AS blk
        FROM customer, params
    )
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           levenshtein(a.c_name, b.c_name) AS edit_dist,
           CAST(a.c_nationkey = b.c_nationkey AS INT) AS same_nation
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {ER_MAX_EDITS}
    ORDER BY cust_a, cust_b
"""


CUSTOMER_FUZZY_SQL = _fuzzy_match_sql()


def _skew_profile_sql() -> str:
    from aws_saas_etl_spark.operators.relational import SKEW_TOP_KEYS

    return f"""
    WITH per_key AS (
        SELECT l_orderkey, count(*) AS key_n FROM lineitem GROUP BY l_orderkey
    ),
    stats AS (
        SELECT count(*) AS n_keys, CAST(sum(key_n) AS BIGINT) AS n_rows,
               max(key_n) AS max_key_n,
               {dround_sql("quantile_cont(key_n, 0.5)", 4)} AS p50_key_n,
               {dround_sql("quantile_cont(key_n, 0.99)", 4)} AS p99_key_n
        FROM per_key
    ),
    topk AS (
        SELECT l_orderkey, key_n FROM per_key
        ORDER BY key_n DESC, l_orderkey LIMIT {SKEW_TOP_KEYS}
    )
    SELECT l_orderkey, key_n,
           {dround_sql("key_n * 100.0 / n_rows", 6)} AS pct_of_rows,
           n_keys, p50_key_n, p99_key_n,
           {dround_sql("CAST(max_key_n AS DOUBLE) * n_keys / n_rows", 4)} AS skew_factor
    FROM topk CROSS JOIN stats
    ORDER BY key_n DESC, l_orderkey
"""


JOIN_KEY_SKEW_SQL = _skew_profile_sql()


def _skewed_two_phase_sql() -> str:
    """PLAIN one-phase GROUP BY twin of the salted two-phase aggregation:
    the hash match proves salted partial-merge == direct aggregation
    (decimal sums are exact and order-independent, so the two plans are
    value-identical, not just approximately equal)."""
    return f"""
    WITH t AS (
        SELECT CASE WHEN l_partkey % 10 <> 0 THEN 'hot'
                    ELSE 'cold_' || CAST(l_partkey % 7 AS VARCHAR) END AS hot_key,
               l_quantity,
               l_extendedprice * (1 - l_discount) AS rev
        FROM lineitem
    )
    SELECT hot_key,
           count(*) AS n_rows,
           {dsum_sql("l_quantity", 2)} AS sum_qty,
           {dsum_sql("rev", 2)} AS sum_revenue,
           {davg_sql("l_quantity", 4)} AS avg_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty
    FROM t GROUP BY hot_key ORDER BY hot_key
"""


SKEWED_TWO_PHASE_AGG_SQL = _skewed_two_phase_sql()


def _partition_pruned_rollup_sql() -> str:
    """Twin of the date-partitioned pruned rollup: the same trailing-week
    filter over the flat events table (pruning is a layout property; the
    emitted values must be identical to a plain filtered scan)."""
    from aws_saas_etl_spark.operators.events import PRUNED_ROLLUP_DAYS

    return f"""
    WITH cut AS (
        SELECT max(CAST(ts AS DATE)) - {PRUNED_ROLLUP_DAYS - 1} AS c
        FROM events WHERE ts IS NOT NULL
    )
    SELECT event_type,
           count(*) AS n_events,
           {dsum_sql("value", 2)} AS sum_value,
           count(DISTINCT CAST(ts AS DATE)) AS n_days
    FROM events, cut
    WHERE ts IS NOT NULL AND CAST(ts AS DATE) >= cut.c
    GROUP BY event_type
    ORDER BY event_type
"""


EVENTS_PARTITION_PRUNED_SQL = _partition_pruned_rollup_sql()


def _audio_energy_sql() -> str:
    """Byte-exact twin of the audio-RMS Arrow kernel, via hex-string byte
    extraction. Exactness argument: per-sample values are integers
    ≤ 255², frame sums stay far below 2^53, so the float64 sum is EXACT
    regardless of accumulation order (numpy pairwise vs DuckDB
    sequential); mean/sqrt are then single correctly-rounded IEEE ops on
    identical inputs, and round(·, 6) of identical doubles agrees except
    at exact decimal ties, which sqrt of a non-perfect-square rational
    cannot produce. Verified 0 mismatches vs the numpy kernel at
    sf0.001/sf0.01."""
    from aws_saas_etl_spark.operators.multimodal import N_AUDIO_FRAMES as NF

    return f"""
    WITH m AS (
        SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
          AND octet_length(encode(text)) > 0
    ),
    fr AS (
        SELECT doc_id, hx, n, f, greatest(n // {NF}, 1) AS stride
        FROM m, (SELECT unnest(generate_series(0, {NF - 1})) AS f)
        WHERE f * greatest(n // {NF}, 1) < n
    ),
    smp AS (
        SELECT doc_id, f,
               ('0x' || substr(hx, 2 * (f*stride + i - 1) + 1, 2))::INT AS v
        FROM fr, LATERAL (
            SELECT unnest(generate_series(1, least(stride, n - f*stride))) AS i
        ) s
    )
    SELECT doc_id, f AS frame_no, count(*) AS n_samples,
           round(sqrt(sum(CAST(v AS DOUBLE) * v) / count(*)), 6) AS rms,
           max(v) AS peak
    FROM smp GROUP BY doc_id, f ORDER BY doc_id, frame_no
"""


MULTIMODAL_AUDIO_ENERGY_SQL = _audio_energy_sql()


def _phash_buckets_sql() -> str:
    """Integer-exact twin of the dHash kernel: the deterministic fake
    decode (strided byte probe at indices (i·2654435761) mod n), the
    8×9→8×8 gradient-sign grid, the 64-bit pack (HUGEINT shifts), the
    two's-complement wrap to signed 64, and the 4×16-bit bands — all
    integer arithmetic, so the twin is exact by construction. Verified 0
    mismatches vs the numpy kernel at sf0.001/sf0.01."""
    from aws_saas_etl_spark.operators.multimodal import (
        DHASH_BANDS,
        DHASH_H,
        DHASH_W,
    )

    w1 = DHASH_W + 1
    npix = DHASH_H * w1
    bands = "\n".join(
        f"           CAST((u >> {16 * b}) & 65535 AS BIGINT) AS band_{b},"
        for b in range(DHASH_BANDS)
    ).rstrip(",")
    return f"""
    WITH m AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               greatest(octet_length(encode(text)), 1) AS n
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
          AND source IS NOT NULL AND n_chars IS NOT NULL
    ),
    px AS (
        SELECT doc_id, i,
               ('0x' || substr(hx, 2 * ((i * 2654435761) % n) + 1, 2))::INT AS v
        FROM m, (SELECT unnest(generate_series(0, {npix - 1})) AS i) s
    ),
    bits AS (
        SELECT a.doc_id, (a.i // {w1}) * {DHASH_W} + (a.i % {w1}) - 1 AS j,
               CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
        FROM px a JOIN px b ON a.doc_id = b.doc_id AND b.i = a.i - 1
        WHERE a.i % {w1} <> 0
    ),
    packed AS (
        SELECT doc_id,
               sum(CASE WHEN bit = 1 THEN (1::HUGEINT << j)
                        ELSE 0::HUGEINT END) AS u
        FROM bits GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(CASE WHEN u >= 9223372036854775808
                     THEN u - 18446744073709551616::HUGEINT
                     ELSE u END AS BIGINT) AS dhash,
{bands}
    FROM packed ORDER BY doc_id
"""


MULTIMODAL_PHASH_SQL = _phash_buckets_sql()


def _full_features_sql() -> str:
    """Byte-exact twin of the full Arrow feature kernel — including
    zlib.crc32, reproduced as the standard table-driven CRC-32 (poly
    0xEDB88320, reflected) via a ``list_reduce`` fold over the payload
    bytes with the 256-entry table embedded as a literal (generated by
    the same Python loop zlib's table comes from). All fold values are
    < 2³² non-negative BIGINTs, so the arithmetic is integer-exact; the
    entropy bucket is pure integer math over ``list_distinct``; the
    NULL/empty sentinel row (0, 0, -1, 0) mirrors _payload_features."""
    tbl = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (0xEDB88320 ^ (c >> 1)) if c & 1 else c >> 1
        tbl.append(c)
    tbl_sql = "[" + ",".join(map(str, tbl)) + "]::BIGINT[]"
    return f"""
    WITH tblc AS (SELECT {tbl_sql} AS tbl),
    m AS (SELECT doc_id, text, encode(text) AS p FROM documents),
    b AS (
        SELECT doc_id,
               CASE WHEN text IS NULL OR octet_length(p) = 0 THEN NULL
                    ELSE list_transform(generate_series(1, octet_length(p)),
                         i -> ('0x' || substr(hex(p), 2*i-1, 2))::BIGINT)
               END AS bytes,
               octet_length(p) AS n
        FROM m
    )
    SELECT doc_id,
           CASE WHEN bytes IS NULL THEN 0 ELSE CAST(n AS BIGINT) END AS n_bytes,
           CASE WHEN bytes IS NULL THEN 0
                ELSE xor(list_reduce(list_prepend(4294967295::BIGINT, bytes),
                         (acc, x) -> xor(tbl[(xor(acc, x) & 255) + 1], acc >> 8)),
                         4294967295)
           END AS crc32,
           CAST(CASE WHEN bytes IS NULL THEN -1 ELSE bytes[1] END AS INT)
               AS first_byte,
           CAST(CASE WHEN bytes IS NULL THEN 0
                     ELSE len(list_distinct(bytes)) * 8 // 256 END AS INT)
               AS byte_entropy_bucket
    FROM b, tblc
    ORDER BY doc_id
"""


MULTIMODAL_FULL_FEATURES_SQL = _full_features_sql()


def _cluster_aware_splits_sql() -> str:
    """Twin of the cluster-keyed split assignment: the keep-best closure
    gives each near-dup member its cluster's min-id; singletons key on
    their own doc_id; the split CASE is the shared hash-bucket rule."""
    from aws_saas_etl_spark.operators.sampling import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
    )

    b = _hash_bucket_sql("split_key")
    return f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, lang, {toks('text')} AS tk FROM documents),
    sh AS (
        SELECT doc_id, lang, {_SHINGLES} AS sh, len(tk) // {LENGTH_BUCKET} AS lb
        FROM t
    ),
    prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.lb = b.lb
                           AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                    6) >= 0.4
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM prs
        UNION ALL
        SELECT doc_b, doc_a FROM prs
    ),
    reach(node, x) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    comp AS (SELECT node, min(x) AS comp FROM reach GROUP BY node),
    assigned AS (
        SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS split_key
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        WHERE d.doc_id IS NOT NULL
    )
    SELECT doc_id, split_key,
           CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN {b} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    ORDER BY doc_id
"""


CLUSTER_AWARE_SPLITS_SQL = _cluster_aware_splits_sql()


def _temperature_mixture_sql() -> str:
    """Twin of the temperature-scaled mixture: identical int-exact token
    shares, the same pow→DECIMAL(22,6) rescale BEFORE the normalizing
    decimal sum (order-independent), identical double divisions."""
    from aws_saas_etl_spark.operators.sampling import MIXTURE_TEMPERATURE

    return f"""
    WITH d AS (
        SELECT source, {toks('text')} AS tk FROM documents
        WHERE source IS NOT NULL AND text IS NOT NULL
    ),
    s AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(tk)) AS BIGINT) AS n_tokens
        FROM d GROUP BY source
    ),
    t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM s),
    p AS (SELECT s.*, n_tokens * 1.0 / tot AS p FROM s, t),
    w AS (
        SELECT *, CAST((CASE WHEN contains(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(pow(p, {MIXTURE_TEMPERATURE}) AS VARCHAR) AS DECIMAL(22,6)) END)
                       AS DOUBLE) AS w
        FROM p
    ),
    n AS (SELECT CAST(sum((CASE WHEN contains(CAST(w AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(w AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(w AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(w AS VARCHAR) AS DECIMAL(22,6)) END)) AS DOUBLE) AS sn FROM w)
    SELECT source, n_docs, n_tokens,
           {dround_sql("p", 6)} AS token_share,
           {dround_sql("w / sn", 6)} AS sample_share,
           {dround_sql("(w / sn) / p", 6)} AS resample_factor
    FROM w, n ORDER BY source
"""


SOURCE_TEMPERATURE_MIXTURE_SQL = _temperature_mixture_sql()


def _dsir_sql() -> str:
    """Twin of DSIR importance weights: identical md5 feature buckets
    (the shared hash_bucket construction), exact int64 smoothed-ratio
    products, ONE libm ln of an identical double, 6dp-decimal rescale
    BEFORE the per-doc decimal sum (order-independent)."""
    from aws_saas_etl_spark.operators.curation import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
    )

    b = _hash_bucket_sql("feat", DSIR_BUCKETS)
    return f"""
    WITH d AS (
        SELECT doc_id, lang, {toks('text')} AS tk FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
    ),
    f AS (
        SELECT doc_id, lang,
               unnest(list_concat(tk,
                 CASE WHEN len(tk) >= 2
                      THEN list_transform(range(1, len(tk)),
                                          i -> tk[i] || ' ' || tk[i+1])
                      ELSE [] END)) AS feat
        FROM d
    ),
    base AS (SELECT doc_id, lang, {b} AS bucket FROM f),
    tgt AS (
        SELECT bucket, count(*) AS ct FROM base
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
    ),
    raw AS (SELECT bucket, count(*) AS cr FROM base GROUP BY bucket),
    n AS (
        SELECT count(*) AS n_r,
               count(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS n_t
        FROM base
    ),
    w AS (
        SELECT raw.bucket,
               (CASE WHEN contains(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(ln(
                   CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)
               ) AS VARCHAR) AS DECIMAL(22,6)) END) AS w
        FROM raw LEFT JOIN tgt USING (bucket), n
    )
    SELECT doc_id, lang, count(*) AS n_feats,
           CAST(sum(w) AS DOUBLE) AS dsir_logratio
    FROM base JOIN w USING (bucket)
    GROUP BY doc_id, lang ORDER BY doc_id
"""


DSIR_IMPORTANCE_WEIGHTS_SQL = _dsir_sql()


def _nb_lang_scores_sql() -> str:
    """Twin of the multinomial NB classifier: identical md5 buckets,
    exact int64 smoothed likelihood/prior ratios through one libm ln
    each, 6dp-decimal rescale before the order-independent per-doc
    per-class decimal sums, the same argmax tie-break and exact decimal
    runner-up margin."""
    from aws_saas_etl_spark.operators.curation import NB_BUCKETS

    b = _hash_bucket_sql("feat", NB_BUCKETS)
    return f"""
    WITH d AS (
        SELECT doc_id, lang, {toks('text')} AS tk FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
    ),
    base AS (
        SELECT doc_id, lang, {b} AS bucket
        FROM (SELECT doc_id, lang, unnest(tk) AS feat FROM d)
    ),
    cls_tok AS (SELECT lang AS cls, count(*) AS n_c FROM base GROUP BY lang),
    joint AS (
        SELECT bucket, lang AS cls, count(*) AS ct
        FROM base GROUP BY bucket, lang
    ),
    w AS (
        SELECT bk.bucket, c.cls,
               (CASE WHEN contains(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                       / CAST(n_c + {NB_BUCKETS} AS DOUBLE))
                    AS VARCHAR) AS DECIMAL(22,6)) END) AS w
        FROM (SELECT DISTINCT bucket FROM base) bk
        CROSS JOIN cls_tok c
        LEFT JOIN joint j ON j.bucket = bk.bucket AND j.cls = c.cls
    ),
    nd AS (SELECT count(*) AS n_docs FROM d),
    pr AS (
        SELECT lang AS cls,
               (CASE WHEN contains(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    AS VARCHAR) AS DECIMAL(22,6)) END) AS pw
        FROM d, nd GROUP BY lang, n_docs
    ),
    counts AS (
        SELECT doc_id, lang, bucket, count(*) AS n
        FROM base GROUP BY doc_id, lang, bucket
    ),
    pcs AS (
        SELECT doc_id, lang, w.cls, CAST(sum(w.w * n) AS DECIMAL(38,6)) AS sw
        FROM counts JOIN w USING (bucket)
        GROUP BY doc_id, lang, w.cls
    ),
    tot AS (
        SELECT doc_id, lang, pcs.cls,
               CAST(sw + pw AS DECIMAL(38,6)) AS total
        FROM pcs JOIN pr ON pr.cls = pcs.cls
    ),
    r AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY total DESC, cls ASC) AS rn,
               CAST(total - lead(total) OVER (
                   PARTITION BY doc_id ORDER BY total DESC, cls ASC)
                    AS DOUBLE) AS margin
        FROM tot
    )
    SELECT doc_id, lang, cls AS pred_lang, (cls = lang) AS is_correct, margin
    FROM r WHERE rn = 1 ORDER BY doc_id
"""


NB_LANG_SCORES_SQL = _nb_lang_scores_sql()


def _training_manifest_sql(doc_source: str = "documents") -> str:
    """Twin of the end-to-end manifest: the filter-pipeline gates, the
    recursive-CTE content-cluster closure, keep-best rank among filter
    survivors, the shared split CASE on the cluster key, and the salted
    md5 shard/position permutation — each fragment identical to its
    already-proven standalone twin."""
    from aws_saas_etl_spark.operators.curation import (
        SHUFFLE_SALT,
        SHUFFLE_SHARDS,
    )
    from aws_saas_etl_spark.operators.sampling import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
    )
    from aws_saas_etl_spark.operators.textops import (
        FILTER_MIN_QUALITY,
        FILTER_MIN_TOKENS,
    )

    score_cols = ",\n           ".join(
        f"{lexicon_count('tk', stops)} AS s_{lang}"
        for lang, stops in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    greatest_all = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    quality = (
        "(0.4 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) "
        "+ 0.3 * (CASE WHEN length(text) > 0 "
        "THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / CAST(length(text) AS DOUBLE) "
        "ELSE 0.0 END) "
        "+ 0.3 * (CASE WHEN len(tk) > 0 "
        "THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) ELSE 0.0 END))"
    )
    b = _hash_bucket_sql("ckey")
    return f"""
    WITH RECURSIVE
    fbase AS (
        SELECT doc_id, text, n_chars, {toks('text')} AS tk,
               min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper
        FROM {doc_source}
        WHERE {DOC_DROPNA}
    ),
    fs AS (SELECT *, {score_cols} FROM fbase),
    keepdocs AS (
        SELECT doc_id, n_chars, CAST(len(tk) AS INT) AS n_tokens
        FROM fs
        WHERE doc_id = keeper AND len(tk) >= {FILTER_MIN_TOKENS}
          AND {greatest_all} > 0 AND {quality} >= {FILTER_MIN_QUALITY}
    ),
    t AS (SELECT doc_id, lang, {toks('text')} AS tk FROM {doc_source}),
    sh AS (
        SELECT doc_id, lang, {_SHINGLES} AS sh, len(tk) // {LENGTH_BUCKET} AS lb
        FROM t
    ),
    prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.lb = b.lb
                           AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                    6) >= 0.4
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM prs
        UNION ALL
        SELECT doc_b, doc_a FROM prs
    ),
    reach(node, x) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    comp AS (SELECT node, min(x) AS comp FROM reach GROUP BY node),
    m AS (
        SELECT k.doc_id, k.n_chars, k.n_tokens,
               coalesce(c.comp, k.doc_id) AS ckey
        FROM keepdocs k LEFT JOIN comp c ON c.node = k.doc_id
    ),
    kept AS (
        SELECT doc_id, n_tokens, ckey
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY ckey ORDER BY n_chars DESC, doc_id) AS rn
              FROM m)
        WHERE rn = 1
    ),
    sk AS (
        SELECT doc_id, n_tokens, ckey,
               md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        FROM kept
    ),
    lab AS (
        SELECT *,
               CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {b} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split,
               CAST(('0x' || substr(shuffle_key, 1, 8))::BIGINT
                    % {SHUFFLE_SHARDS} AS INT) AS shard
        FROM sk
    )
    SELECT doc_id, split, shard,
           CAST(row_number() OVER (
               PARTITION BY split, shard ORDER BY shuffle_key, doc_id
           ) AS INT) AS pos,
           n_tokens
    FROM lab ORDER BY split, shard, pos
"""


TRAINING_MANIFEST_SQL = _training_manifest_sql()


def _deletion_manifest_sql() -> str:
    """Full-recompute twin of the deletion-repaired manifest: the exact
    manifest pipeline over the corpus MINUS the deletion list — pair
    space, closure, verdicts, keep-best, split, shard and positions all
    re-derived from surviving documents only."""
    from aws_saas_etl_spark.operators.similarity import DELETION_MOD

    return _training_manifest_sql(
        f"(SELECT * FROM documents WHERE doc_id % {DELETION_MOD} <> 0)"
    )


TRAINING_MANIFEST_DELETION_SQL = _deletion_manifest_sql()


def _manifest_shard_stats_sql() -> str:
    return f"""
    WITH man AS ({TRAINING_MANIFEST_SQL})
    SELECT split, shard,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(n_tokens) AS min_tokens,
           max(n_tokens) AS max_tokens,
           {davg_sql("n_tokens", 4)} AS mean_tokens,
           max(pos) AS max_pos,
           max(pos) = count(*) AS positions_contiguous
    FROM man GROUP BY split, shard ORDER BY split, shard
"""


MANIFEST_SHARD_STATS_SQL = _manifest_shard_stats_sql()


def _manifest_deletion_churn_sql() -> str:
    """Twin of the deletion-churn report: both manifest twins joined and
    classified with the identical placement-equality rule."""
    return f"""
    WITH man_before AS ({TRAINING_MANIFEST_SQL}),
    man_after AS ({TRAINING_MANIFEST_DELETION_SQL}),
    j AS (
        SELECT o.split, o.shard, o.n_tokens,
               CASE WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN n.split = o.split AND n.shard = o.shard
                         AND n.pos = o.pos THEN 'stable'
                    ELSE 'moved' END AS status
        FROM man_before o LEFT JOIN man_after n ON n.doc_id = o.doc_id
    )
    SELECT split, shard,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(sum(CASE WHEN status = 'moved' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved,
           CAST(sum(CASE WHEN status = 'stable' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stable,
           CAST(sum(CASE WHEN status = 'removed' THEN n_tokens ELSE 0 END)
               AS BIGINT) AS tokens_removed
    FROM j GROUP BY split, shard ORDER BY split, shard
"""


MANIFEST_DELETION_CHURN_SQL = _manifest_deletion_churn_sql()


def _contam_ids_subquery() -> str:
    """Removal-set SUBQUERY of the decontamination gate — the winnow
    rare-fingerprint machinery verbatim from the contamination twin and
    a train×eval (not self) fp join with the per-pair ≥
    CONTAM_MIN_SHARED threshold. References an outer ``man`` CTE for
    split membership (split is gate-invariant, so any manifest stage
    yields the same set — the composition property the full-pipeline
    twin relies on). ONE definition shared by the solo decontaminated
    twin and the full-pipeline twin."""
    from aws_saas_etl_spark.functions.text import WINNOW_K, WINNOW_W
    from aws_saas_etl_spark.operators.textops import (
        CONTAM_MAX_DF,
        CONTAM_MIN_SHARED,
    )

    k, w = WINNOW_K, WINNOW_W
    h = _winnow_kgram_hash_sql(f"substr(txt, i, {k})")
    return f"""(
    WITH t AS (SELECT doc_id, {_NORM_TEXT} AS txt FROM documents WHERE {DOC_DROPNA}),
    g AS (
        SELECT doc_id,
               CASE WHEN length(txt) >= {k}
                    THEN list_transform(generate_series(1, length(txt) - {k - 1}),
                         i -> {h})
                    ELSE CAST([] AS BIGINT[]) END AS hs
        FROM t
    ),
    wmin AS (
        SELECT doc_id,
               CASE WHEN len(hs) >= {w}
                    THEN list_sort(list_distinct(
                         list_transform(generate_series(1, len(hs) - {w - 1}),
                         j -> list_aggregate(hs[j:j+{w - 1}], 'min'))))
                    ELSE CAST([] AS BIGINT[]) END AS fps
        FROM g
    ),
    ex AS (SELECT doc_id, unnest(fps) AS fp FROM wmin),
    rare AS (
        SELECT ex.doc_id, ex.fp FROM ex
        JOIN (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= {CONTAM_MAX_DF}) r
          ON ex.fp = r.fp
    )
    SELECT DISTINCT a.doc_id
    FROM rare a
    JOIN man ma ON a.doc_id = ma.doc_id AND ma.split = 'train'
    JOIN rare b ON a.fp = b.fp AND a.doc_id <> b.doc_id
    JOIN man mb ON b.doc_id = mb.doc_id AND mb.split <> 'train'
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {CONTAM_MIN_SHARED}
    )"""


def _decontaminated_manifest_sql() -> str:
    """Twin of the eval-decontaminated manifest: the full manifest as a
    CTE, the shared contamination removal-set subquery, anti-join
    removal, and positions re-ranked by the STORED pos (removal
    preserves relative order)."""
    return f"""
    WITH man AS ({TRAINING_MANIFEST_SQL}),
    contam AS {_contam_ids_subquery()}
    SELECT m.doc_id, m.split, m.shard,
           row_number() OVER (PARTITION BY m.split, m.shard ORDER BY m.pos)
               AS pos,
           m.n_tokens
    FROM man m LEFT JOIN contam c ON m.doc_id = c.doc_id
    WHERE c.doc_id IS NULL
    ORDER BY m.split, m.shard, pos
"""


TRAINING_MANIFEST_DECONTAMINATED_SQL = _decontaminated_manifest_sql()


def _cluster_deletion_repair_sql() -> str:
    """Twin of the deletion repair: the same recursive-CTE closure, the
    same keep-best rank over all members and over survivors, NULL new
    keeper when a cluster is fully deleted."""
    from aws_saas_etl_spark.operators.similarity import DELETION_MOD

    return f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, lang, {toks('text')} AS tk FROM documents),
    sh AS (
        SELECT doc_id, lang, {_SHINGLES} AS sh, len(tk) // {LENGTH_BUCKET} AS lb
        FROM t
    ),
    prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.lb = b.lb
                           AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                    6) >= 0.4
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM prs
        UNION ALL
        SELECT doc_b, doc_a FROM prs
    ),
    reach(node, x) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    comp AS (SELECT node, min(x) AS comp FROM reach GROUP BY node),
    mem AS (
        SELECT c.comp, c.node, d.n_chars,
               (d.doc_id % {DELETION_MOD} = 0) AS deleted
        FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    all_r AS (
        SELECT *, row_number() OVER (
            PARTITION BY comp ORDER BY n_chars DESC, node) AS rn
        FROM mem
    ),
    surv_r AS (
        SELECT *, row_number() OVER (
            PARTITION BY comp ORDER BY n_chars DESC, node) AS sn
        FROM mem WHERE NOT deleted
    ),
    a AS (
        SELECT comp AS cluster_id, count(*) AS n_members,
               CAST(sum(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_deleted,
               max(CASE WHEN rn = 1 THEN node END) AS old_keeper
        FROM all_r GROUP BY comp
    ),
    s AS (
        SELECT comp AS cluster_id,
               max(CASE WHEN sn = 1 THEN node END) AS new_keeper
        FROM surv_r GROUP BY comp
    )
    SELECT a.cluster_id, n_members, n_deleted, old_keeper, new_keeper,
           (new_keeper IS NULL OR new_keeper <> old_keeper) AS keeper_changed
    FROM a LEFT JOIN s USING (cluster_id)
    WHERE n_deleted > 0
    ORDER BY a.cluster_id
"""


CLUSTER_DELETION_REPAIR_SQL = _cluster_deletion_repair_sql()


def _daily_trend_ols_sql() -> str:
    """Twin of the per-group closed-form OLS: identical integer
    sufficient statistics, identical single-double-division formulas
    (slope, intercept, r² — r² squared in DOUBLE on both sides since the
    int64 square would overflow)."""
    num = "(n*sxy - sx*sy)"
    den = "(n*sxx - sx*sx)"
    deny = "(n*syy - sy*sy)"
    slope = f"({num} / {den})"
    return f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
        FROM events WHERE ts IS NOT NULL
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    d0 AS (SELECT min(day) AS day0 FROM daily),
    b AS (
        SELECT event_type, CAST(day - day0 AS BIGINT) AS x, CAST(y AS BIGINT) AS y
        FROM daily, d0
    ),
    s AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*y) AS BIGINT) AS sxy,
               CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(y*y) AS BIGINT) AS syy
        FROM b GROUP BY event_type
    )
    SELECT event_type,
           n AS n_days,
           sy,
           CASE WHEN {den} <> 0
                THEN {dround_sql(slope, 6)} END AS slope,
           CASE WHEN {den} <> 0
                THEN {dround_sql(f"((sy - {slope} * sx) / n)", 6)} END AS intercept,
           CASE WHEN {den} <> 0 AND {deny} <> 0
                THEN {dround_sql(
                    f"(CAST({num} AS DOUBLE) * CAST({num} AS DOUBLE))"
                    f" / (CAST({den} AS DOUBLE) * CAST({deny} AS DOUBLE))", 6)}
           END AS r2
    FROM s ORDER BY event_type
"""


EVENTS_DAILY_TREND_OLS_SQL = _daily_trend_ols_sql()


def _crossdoc_duplication_sql() -> str:
    """Twin of the cross-document substring-duplication metric: raw token
    k-grams grouped directly (the Spark side hashes them — same
    engine-tolerance as the hashed-shingle Jaccard path), identical
    LEAD-based exact span coverage."""
    from aws_saas_etl_spark.operators.textops import SUBSTR_DUP_K as K

    return f"""
    WITH t AS (
        SELECT doc_id, {toks('text')} AS tk FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    b AS (SELECT doc_id, tk, len(tk) AS n FROM t),
    g AS (
        SELECT doc_id, n, i, array_to_string(tk[i:i+{K - 1}], ' ') AS gram
        FROM b, LATERAL (
            SELECT unnest(generate_series(1, n - {K} + 1)) AS i
        ) s
        WHERE n >= {K}
    ),
    d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    f AS (
        SELECT g.doc_id, g.i,
               lead(g.i) OVER (PARTITION BY g.doc_id ORDER BY g.i) AS nx
        FROM g JOIN d USING (gram)
    ),
    p AS (
        SELECT doc_id, count(*) AS n_dup_kgrams,
               sum(least({K}, coalesce(nx - i, {K}))) AS dup_tokens
        FROM f GROUP BY doc_id
    )
    SELECT b.doc_id,
           b.n AS n_tokens,
           CAST(coalesce(p.n_dup_kgrams, 0) AS BIGINT) AS n_dup_kgrams,
           CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           {dround_sql("coalesce(p.dup_tokens, 0) * 1.0 / greatest(b.n, 1)", 6)} AS dup_frac
    FROM b LEFT JOIN p USING (doc_id)
    ORDER BY b.doc_id
"""


CROSSDOC_DUPLICATION_SQL = _crossdoc_duplication_sql()


def _duplicate_span_removal_sql() -> str:
    """Twin of the duplicated-span REMOVAL rewrite: same duplicated-gram
    definition and LEAD-disjoint coverage as the coverage twin, then an
    anti-join on (doc_id, position) and an ordered string_agg rebuild."""
    from aws_saas_etl_spark.operators.textops import SUBSTR_DUP_K as K

    return f"""
    WITH t AS (
        SELECT doc_id, {toks('text')} AS tk FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    b AS (SELECT doc_id, tk, len(tk) AS n FROM t),
    g AS (
        SELECT doc_id, i, array_to_string(tk[i:i+{K - 1}], ' ') AS gram
        FROM b, LATERAL (
            SELECT unnest(generate_series(1, n - {K} + 1)) AS i
        ) s
        WHERE n >= {K}
    ),
    d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    f AS (
        SELECT g.doc_id, g.i,
               lead(g.i) OVER (PARTITION BY g.doc_id ORDER BY g.i) AS nx
        FROM g JOIN d USING (gram)
    ),
    cov AS (
        SELECT doc_id, unnest(generate_series(i, i + least({K}, coalesce(nx - i, {K})) - 1)) AS p
        FROM f
    ),
    tokpos AS (
        SELECT doc_id, unnest(tk) AS tok, unnest(generate_series(1, n)) AS p
        FROM b WHERE n > 0
    ),
    kept AS (
        SELECT tp.doc_id, tp.p, tp.tok
        FROM tokpos tp
        WHERE NOT EXISTS (
            SELECT 1 FROM cov c WHERE c.doc_id = tp.doc_id AND c.p = tp.p
        )
    ),
    r AS (
        SELECT doc_id, count(*) AS kept_tokens,
               string_agg(tok, ' ' ORDER BY p) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           b.n AS n_tokens,
           CAST(coalesce(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(b.n - coalesce(r.kept_tokens, 0) AS BIGINT) AS removed_tokens,
           coalesce(r.clean_text, '') AS clean_text
    FROM b LEFT JOIN r USING (doc_id)
    ORDER BY b.doc_id
"""


DUPLICATE_SPAN_REMOVAL_SQL = _duplicate_span_removal_sql()


BUCKETED_JOIN_SQL = f"""
    SELECT o_orderpriority,
           count(*) AS n_items,
           {dsum_sql("l_extendedprice * (1 - l_discount)", 2)} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


EMBEDDING_INT8_SQL = """
    WITH dims AS (
        SELECT vec_id,
               unnest(range(len(embedding))) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    scales AS (SELECT dim, max(abs(v)) AS scale FROM dims GROUP BY dim),
    j AS (
        SELECT vec_id, v, scale,
               CASE WHEN scale = 0.0 THEN 0
                    ELSE CAST(round((CASE WHEN contains(CAST(v / scale * 127.0 AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(v / scale * 127.0 AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(v / scale * 127.0 AS VARCHAR) AS DECIMAL(22,6)) END), 0) AS INT)
               END AS q
        FROM dims JOIN scales USING (dim)
    )
    SELECT vec_id, count(*) AS n_dims, max(abs(q)) AS max_abs_q,
           CAST(round(sum(CAST((v - CAST(q AS DOUBLE) * scale / 127.0)
                               * (v - CAST(q AS DOUBLE) * scale / 127.0)
                               AS DECIMAL(30,12))), 9) AS DOUBLE) AS sum_sq_err
    FROM j GROUP BY vec_id ORDER BY vec_id
"""


# --- MERGE INTO upsert (W2 batch generalization) ---------------------------

ORDERS_MERGE_SQL = f"""
    WITH tgt AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    ),
    src AS (
        SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
               o_totalprice * CAST(1.05 AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT -o_orderkey, o_custkey, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 97 = 1
    )
    SELECT coalesce(s.o_orderkey, t.o_orderkey)       AS o_orderkey,
           coalesce(s.o_custkey, t.o_custkey)         AS o_custkey,
           coalesce(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           {dround_sql("coalesce(s.o_totalprice, t.o_totalprice)")} AS o_totalprice,
           CASE WHEN t.o_orderkey IS NULL THEN 'inserted'
                WHEN s.o_orderkey IS NULL THEN 'kept'
                ELSE 'updated' END                    AS merge_action
    FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
"""


# --- Random-projection dim reduction (fold-order-exact twin) ----------------


def _rp_sql() -> str:
    from aws_saas_etl_spark.operators.similarity import (
        EMBED_DIM,
        RP_OUT_DIMS,
        rp_sign,
    )

    outs = []
    for j in range(RP_OUT_DIMS):
        terms = []
        for i in range(EMBED_DIM):
            s = rp_sign(i, j)
            if s == 0:
                continue
            t = f"CAST(embedding[{i + 1}] AS DOUBLE)"
            terms.append(f"(-{t})" if s < 0 else t)
        outs.append(f"{dround_sql(' + '.join(terms), 6)} AS p{j}")
    return "SELECT vec_id, " + ",\n           ".join(outs) + " FROM embeddings"


EMBEDDING_RP_SQL = _rp_sql()


# --- Z-order (Morton) clustering key ----------------------------------------


def _zorder_sql() -> str:
    from aws_saas_etl_spark.operators.layout import Z_BITS, Z_GRID, z_value_sql

    zx = f"o_custkey % {Z_GRID}"
    zy = f"date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % {Z_GRID}"
    z = z_value_sql("zx", "zy")
    return f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST({zx} AS BIGINT) AS zx,
               CAST({zy} AS BIGINT) AS zy
        FROM orders
    )
    SELECT o_orderkey, zx, zy, {z} AS zval,
           (({z}) >> {2 * Z_BITS - 8}) AS tile_id
    FROM base
    """


ORDERS_ZORDER_SQL = _zorder_sql()


# --- Frame sampling (strided slice + digest twin) ----------------------------


def _frame_sample_sql() -> str:
    from aws_saas_etl_spark.operators.multimodal import N_FRAMES

    sl = "substring(text, CAST(frame_no * stride + 1 AS INT), CAST(stride AS INT))"
    return f"""
    WITH d AS (
        SELECT doc_id, text, greatest(length(text) // {N_FRAMES}, 1) AS stride
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(text) > 0
    ),
    f AS (
        SELECT doc_id, stride, text, unnest(range({N_FRAMES})) AS frame_no FROM d
    )
    SELECT doc_id,
           CAST(frame_no AS INT)      AS frame_no,
           CAST(length({sl}) AS BIGINT) AS n_bytes,
           md5({sl})                  AS frame_md5
    FROM f
    """


MULTIMODAL_FRAME_SQL = _frame_sample_sql()


# --- Point-in-time (temporal interval) join ---------------------------------

EVENTS_PIT_SQL = f"""
    WITH clicks AS (
        SELECT user_id, ts AS valid_from, value,
               row_number() OVER w AS version_no,
               lead(ts) OVER w AS valid_to
        FROM events
        WHERE event_type = 'click' AND ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    p AS (
        SELECT user_id, event_id AS purchase_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    )
    SELECT p.user_id, p.purchase_id,
           strftime(p.p_ts, '{TS_FMT_DUCK}') AS purchase_ts,
           c.version_no,
           {dround_sql("c.value")} AS value_in_force,
           CASE WHEN c.version_no IS NULL THEN 1 ELSE 0 END AS is_unattributed
    FROM p LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND p.p_ts >= c.valid_from
     AND (c.valid_to IS NULL OR p.p_ts < c.valid_to)
"""


# --- Incremental MV maintenance: merge(partials) == recompute(whole) --------

EVENTS_INCR_MERGE_SQL = f"""
    SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS hour,
           count(*) AS n_events,
           CAST(round(sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1
"""

# --- JobStore latest-wins status view (reference app.py:156-179,194-208) -----

JOBSTORE_STATUS_SQL = """
    WITH ev AS (
        SELECT o_orderkey AS job_id,
               'upload_' || CAST(o_orderkey AS VARCHAR) || '.csv' AS filename,
               'Pending' AS status,
               CAST(NULL AS VARCHAR) AS result_url,
               o_custkey AS user_id,
               1 AS seq
        FROM orders
        UNION ALL
        SELECT o_orderkey,
               'upload_' || CAST(o_orderkey AS VARCHAR) || '.csv',
               'Processing', CAST(NULL AS VARCHAR), o_custkey, 2
        FROM orders WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey,
               'upload_' || CAST(o_orderkey AS VARCHAR) || '.csv',
               CASE WHEN o_orderkey % 11 = 0 THEN 'Failed' ELSE 'Completed' END,
               CASE WHEN o_orderkey % 11 <> 0
                    THEN 'updates/data_' || CAST(o_orderkey AS VARCHAR) || '.csv'
               END,
               o_custkey, 3
        FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY job_id ORDER BY seq DESC) AS rn,
               count(*) OVER (PARTITION BY job_id) AS n_events
        FROM ev
    )
    SELECT job_id, filename, status, result_url, user_id, n_events
    FROM ranked WHERE rn = 1
    ORDER BY job_id
"""


# --- CSV roundtrip fidelity (reference etl_core.py:22-27, app.py:53-62) ------
# The oracle reads the ORIGINAL parquet; the Spark side reads its own CSV
# roundtrip. Equal stats ⇒ the CSV writer/parser pair is lossless.

CSV_ROUNDTRIP_SQL = """
    SELECT c_mktsegment,
           count(*) AS n_rows,
           count(DISTINCT c_custkey) AS n_keys,
           CAST(CAST(sum((CASE WHEN contains(CAST(c_acctbal AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(c_acctbal AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(22,6)) END)) AS DECIMAL(22,2)) AS DOUBLE) AS total_acctbal,
           CAST(sum(('0x' || substr(md5(
               coalesce(CAST(c_custkey AS VARCHAR), '<null>') || '|'
               || coalesce(c_name, '<null>') || '|'
               || coalesce(CAST(c_nationkey AS VARCHAR), '<null>') || '|'
               || coalesce(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR), '<null>')
           ), 1, 8))::BIGINT) AS BIGINT) AS content_checksum
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


JSONL_ROUNDTRIP_SQL = """
    WITH agg AS (
        SELECT source,
               count(*) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(('0x' || substr(md5(
                   coalesce(CAST(doc_id AS VARCHAR), '<null>') || '|'
                   || coalesce(lang, '<null>') || '|'
                   || coalesce(sha256(text), '<null>') || '|'
                   || coalesce(CAST(n_chars AS VARCHAR), '<null>')
               ), 1, 8))::BIGINT) AS BIGINT) AS content_checksum
        FROM documents GROUP BY source
    ),
    keys AS (
        SELECT source, count(*) AS n_keys
        FROM (SELECT DISTINCT source, doc_id FROM documents)
        GROUP BY source
    )
    SELECT a.source, a.n_rows, k.n_keys, a.total_chars, a.content_checksum
    FROM agg a JOIN keys k ON a.source IS NOT DISTINCT FROM k.source
    ORDER BY a.source
"""


# --- Data-quality constraint report ------------------------------------------

DATA_QUALITY_SQL = """
    WITH li AS (
        SELECT count(*) AS n,
               sum(CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END)  AS qty_low,
               sum(CASE WHEN l_quantity > 50 THEN 1 ELSE 0 END) AS qty_high,
               sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS disc_range,
               sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS ship_null
        FROM lineitem
    ),
    o AS (
        SELECT count(*) AS n,
               sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS price_pos,
               sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS status_enum
        FROM orders
    )
    SELECT * FROM (
        SELECT 'lineitem' AS table_name, 'l_quantity_min_1' AS constraint_name,
               CAST(n AS BIGINT) AS n_checked, CAST(qty_low AS BIGINT) AS n_violations FROM li
        UNION ALL
        SELECT 'lineitem', 'l_quantity_max_50', CAST(n AS BIGINT), CAST(qty_high AS BIGINT) FROM li
        UNION ALL
        SELECT 'lineitem', 'l_discount_range', CAST(n AS BIGINT), CAST(disc_range AS BIGINT) FROM li
        UNION ALL
        SELECT 'lineitem', 'l_shipdate_not_null', CAST(n AS BIGINT), CAST(ship_null AS BIGINT) FROM li
        UNION ALL
        SELECT 'orders', 'o_totalprice_positive', CAST(n AS BIGINT), CAST(price_pos AS BIGINT) FROM o
        UNION ALL
        SELECT 'orders', 'o_orderstatus_enum', CAST(n AS BIGINT), CAST(status_enum AS BIGINT) FROM o
        UNION ALL
        SELECT 'customer', 'c_custkey_unique',
               (SELECT count(*) FROM customer),
               (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
        UNION ALL
        -- NOT EXISTS, not NOT IN: anti-join semantics must match Spark's
        -- left_anti under NULL keys (NOT IN yields NULL for a NULL child
        -- key and is poisoned entirely by a NULL parent key)
        SELECT 'orders', 'o_custkey_fk_customer',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'lineitem', 'l_orderkey_fk_orders',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
    )
    ORDER BY table_name, constraint_name
"""


# --- CDC snapshot diff -------------------------------------------------------

def _snapshot_diff_sql() -> str:
    from aws_saas_etl_spark.operators.quality import DIFF_DELETE_MOD, DIFF_UPDATE_MOD

    return f"""
    WITH b AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % {DIFF_UPDATE_MOD} = 0
                    THEN o_totalprice * 1.10 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % {DIFF_DELETE_MOD} <> 0
        UNION ALL
        SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % {DIFF_UPDATE_MOD} = 1
    ),
    j AS (
        SELECT CASE WHEN a.o_orderkey IS NULL THEN 'inserted'
                    WHEN b.o_orderkey IS NULL THEN 'deleted'
                    WHEN a.o_totalprice <> b.o_totalprice THEN 'updated'
                    ELSE 'unchanged' END AS change_type,
               abs(coalesce(b.o_totalprice, 0.0) - coalesce(a.o_totalprice, 0.0)) AS price_delta
        FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT change_type, count(*) AS n_keys,
           {dsum_sql("price_delta", 2)} AS total_price_delta
    FROM j GROUP BY change_type ORDER BY change_type
"""


ORDERS_SNAPSHOT_DIFF_SQL = _snapshot_diff_sql()


# --- Per-user daily rolling features (RANGE frame over day numbers) ----------

def _rolling_features_sql() -> str:
    from aws_saas_etl_spark.operators.events import ROLLING_DAYS

    prec = ROLLING_DAYS - 1
    return f"""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day_ts,
               count(*) AS n_events,
               sum((CASE WHEN contains(CAST(value AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(value AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(value AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(22,6)) END)) AS day_sum6
        FROM events WHERE ts IS NOT NULL
        GROUP BY user_id, date_trunc('day', ts)
    ),
    d2 AS (
        SELECT *, date_diff('day', DATE '1970-01-01', CAST(day_ts AS DATE)) AS day_num
        FROM daily
    )
    SELECT user_id,
           strftime(day_ts, '%Y-%m-%d') AS day,
           n_events,
           CAST(round(day_sum6, 2) AS DOUBLE) AS day_value,
           CAST(sum(n_events) OVER w AS BIGINT) AS rolling_7d_events,
           CAST(round(sum(day_sum6) OVER w, 2) AS DOUBLE) AS rolling_7d_value,
           count(*) OVER w AS active_days_7d
    FROM d2
    WINDOW w AS (PARTITION BY user_id ORDER BY day_num
                 RANGE BETWEEN {prec} PRECEDING AND CURRENT ROW)
    ORDER BY user_id, day
"""


EVENTS_ROLLING_SQL = _rolling_features_sql()


# --- Cross-document common-shingle ratio -------------------------------------

def _common_ngram_sql() -> str:
    from aws_saas_etl_spark.operators.textops import COMMON_SHINGLE_DF

    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS g
        FROM (SELECT doc_id, {toks('text')} AS tk FROM documents
              WHERE doc_id IS NOT NULL AND text IS NOT NULL)
    ),
    dfc AS (SELECT g, count(*) AS df FROM sh GROUP BY g)
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN dfc.df >= {COMMON_SHINGLE_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           round(CAST(sum(CASE WHEN dfc.df >= {COMMON_SHINGLE_DF} THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS common_ratio
    FROM sh JOIN dfc ON sh.g = dfc.g
    GROUP BY sh.doc_id
    ORDER BY sh.doc_id
"""


DOC_COMMON_NGRAM_SQL = _common_ngram_sql()


# --- Character-entropy quality signal -----------------------------------------

DOC_CHAR_ENTROPY_SQL = """
    WITH letters AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    counts AS (SELECT doc_id, ch, count(*) AS c FROM letters GROUP BY doc_id, ch),
    withp AS (
        SELECT doc_id, c,
               CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY doc_id) AS p
        FROM counts
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_letters,
           count(*) AS n_distinct_letters,
           round(sum(-p * log2(p)), 6) AS entropy_bits
    FROM withp
    GROUP BY doc_id
    ORDER BY doc_id
"""


# --- Zipf log-log OLS fit ------------------------------------------------------

def _zipf_sql() -> str:
    from aws_saas_etl_spark.operators.textops import ZIPF_TOP_N

    return f"""
    WITH freq AS (
        SELECT tok, count(*) AS freq
        FROM (SELECT unnest({toks('text')}) AS tok FROM documents
              WHERE text IS NOT NULL)
        GROUP BY tok
    ),
    ranked AS (
        SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
        FROM freq
    ),
    top AS (SELECT * FROM ranked WHERE rank <= {ZIPF_TOP_N}),
    s AS (
        -- each term cast to DECIMAL before summing: double accumulation
        -- is order-dependent across partitions/engines (functions/num.py)
        SELECT count(*) AS n,
               CAST(sum(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(22,12))) AS DOUBLE) AS sx,
               CAST(sum(CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(22,12))) AS DOUBLE) AS sy,
               CAST(sum(CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE)) AS DECIMAL(22,12))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) AS DECIMAL(22,12))) AS DOUBLE) AS sxx
        FROM top
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS zipf_slope,
           round((sy - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx) / n, 6)
               AS zipf_intercept
    FROM s
"""


CORPUS_ZIPF_SQL = _zipf_sql()


# --- Inverted-index tf-idf top-k neighbors -----------------------------------

def _tfidf_neighbors_sql() -> str:
    from aws_saas_etl_spark.operators.textops import (
        TFIDF_NN_QUERY_DOCS,
        TFIDF_NN_TOP_K,
    )

    return f"""
    WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest({toks('text')}) AS tok FROM documents
              WHERE doc_id IS NOT NULL AND text IS NOT NULL)
        GROUP BY doc_id, tok
    ),
    dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    nd AS (SELECT count(*) AS n_docs FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    w AS (
        SELECT doc_id, tok,
               CAST(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df)
                    AS DECIMAL(18,6)) AS w
        FROM tf JOIN dfc USING (tok) CROSS JOIN nd
        WHERE df * 10 < n_docs * 9
    ),
    norms AS (
        SELECT doc_id, sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
        FROM w GROUP BY doc_id
    ),
    q AS (SELECT doc_id AS q_doc, tok, w AS wq FROM w WHERE doc_id < {TFIDF_NN_QUERY_DOCS}),
    dots AS (
        SELECT q.q_doc, w.doc_id AS c_doc,
               sum(CAST(q.wq * w.w AS DECIMAL(38,12))) AS dot
        FROM w JOIN q USING (tok)
        WHERE w.doc_id <> q.q_doc
        GROUP BY q.q_doc, w.doc_id
    ),
    sims AS (
        SELECT q_doc, c_doc,
               round(CAST(dot AS DOUBLE) / (qn.nrm * cn.nrm), 6) AS cos_sim
        FROM dots
        JOIN norms qn ON qn.doc_id = dots.q_doc
        JOIN norms cn ON cn.doc_id = dots.c_doc
    )
    SELECT q_doc, c_doc, cos_sim, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_doc ORDER BY cos_sim DESC, c_doc ASC
        ) AS rank
        FROM sims
    )
    WHERE rank <= {TFIDF_NN_TOP_K}
    ORDER BY q_doc, rank
"""


DOC_TFIDF_NEIGHBORS_SQL = _tfidf_neighbors_sql()


# --- Inactivity-gap detection -------------------------------------------------

def _gap_detection_sql() -> str:
    from aws_saas_etl_spark.operators.events import GAP_HOURS_MIN

    return f"""
    WITH g AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id,
           strftime(prev_ts, '{TS_FMT_DUCK}') AS gap_start,
           strftime(ts, '{TS_FMT_DUCK}')      AS gap_end,
           {dround_sql("(epoch(ts) - epoch(prev_ts)) / 3600.0", 4)} AS gap_hours
    FROM g
    WHERE prev_ts IS NOT NULL
      AND epoch(ts) - epoch(prev_ts) > {GAP_HOURS_MIN} * 3600
    ORDER BY user_id, gap_start
"""


EVENTS_GAP_SQL = _gap_detection_sql()


# --- VARIANT props (typed variant_get twin) ----------------------------------

EVENTS_VARIANT_SQL = f"""
    SELECT event_type,
           count(*) AS n_events,
           count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
           {davg_sql("CAST(json_extract_string(props, '$.k') AS INT)", 4)} AS avg_k,
           CAST(sum(CASE WHEN json_extract_string(props, '$.no_such_field') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_absent_null
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


# --- Custom Python DataSource twin -------------------------------------------

def _custom_source_sql() -> str:
    from aws_saas_etl_spark.sources.custom import (
        DEFAULT_PARTITIONS,
        DEFAULT_ROWS_PER_PARTITION,
    )

    total = DEFAULT_PARTITIONS * DEFAULT_ROWS_PER_PARTITION
    return f"""
    WITH src AS (
        SELECT i AS event_id,
               i % 97 AS user_id,
               round((i * 31) % 1000 / 10.0, 1) AS value
        FROM (SELECT unnest(range({total})) AS i)
    )
    SELECT user_id % 10 AS user_bucket,
           count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users,
           {dsum_sql("value", 2)} AS total_value
    FROM src
    GROUP BY user_bucket
    ORDER BY user_bucket
"""


CUSTOM_SOURCE_SQL = _custom_source_sql()


# --- Recursive month spine (gap-filled calendar) ------------------------------

ORDERS_MONTH_SPINE_SQL = """
    WITH RECURSIVE bounds AS (
        SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
               CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
        FROM orders
    ),
    spine(month_start) AS (
        SELECT lo FROM bounds
        UNION ALL
        SELECT CAST(month_start + INTERVAL 1 MONTH AS DATE) FROM spine
        WHERE month_start < (SELECT hi FROM bounds)
    ),
    rev AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               count(*) AS n_orders,
               CAST(round(sum((CASE WHEN contains(CAST(o_totalprice AS VARCHAR), 'e') THEN CAST((CASE WHEN (CASE WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END) < 0 THEN '-' ELSE '' END || CAST(abs((CASE WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) // 1000000 AS VARCHAR) || '.' || lpad(CAST(abs((CASE WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= -8 THEN 0 WHEN CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) <= 11 THEN (CASE WHEN (CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) >= 0 THEN (2*(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT)) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) ELSE -((2*(-(CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT))) + (CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT))) // (2*(CAST(power(10, 11 - CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER)) AS HUGEINT)))) END) ELSE CAST(CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 1) AS DECIMAL(38,17)) * 100000000000000000 AS HUGEINT) * CAST(power(10, CAST(split_part(CAST(o_totalprice AS VARCHAR), 'e', 2) AS INTEGER) - 11) AS HUGEINT) END)) % 1000000 AS VARCHAR), 6, '0')) AS DECIMAL(22,6)) ELSE CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(22,6)) END)), 2) AS DOUBLE) AS total_revenue
        FROM orders GROUP BY 1
    )
    SELECT strftime(month_start, '%Y-%m') AS month,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(total_revenue, 0.0) AS total_revenue,
           CAST(n_orders IS NULL AS INT) AS is_gap_month
    FROM spine LEFT JOIN rev ON rev.m = spine.month_start
    ORDER BY month
"""


# --- Sentence segmentation stats ----------------------------------------------

_SENTS = (
    "list_filter(list_transform(string_split_regex(text, '[.!?]+'), s -> trim(s)), "
    "s -> s <> '')"
)
_SENT_TOKS = (
    "list_transform(sents, s -> len(list_filter(string_split_regex(s, '\\s+'), "
    "t -> t <> '')))"
)

DOC_SENTENCE_STATS_SQL = f"""
    WITH t AS (
        SELECT doc_id, {_SENTS} AS sents FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    c AS (SELECT doc_id, len(sents) AS n_sentences, {_SENT_TOKS} AS tc FROM t)
    SELECT doc_id,
           n_sentences,
           round(CASE WHEN n_sentences > 0
                 THEN CAST(list_aggregate(tc, 'sum') AS DOUBLE) / n_sentences
                 ELSE 0.0 END, 6) AS mean_sentence_tokens,
           round(CASE WHEN n_sentences > 0
                 THEN CAST(len(list_filter(tc, x -> x > 30)) AS DOUBLE) / n_sentences
                 ELSE 0.0 END, 6) AS long_sentence_share,
           round(CASE WHEN n_sentences > 0
                 THEN CAST(len(list_filter(tc, x -> x < 4)) AS DOUBLE) / n_sentences
                 ELSE 0.0 END, 6) AS short_sentence_share
    FROM c
    ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Round 4: LLM-data curation twins (operators/curation.py)
# --------------------------------------------------------------------------


def _canonical_keep_best_sql() -> str:
    """Transitive closure via recursive CTE — the SQL twin of the Spark
    side's iterative connected components (same n-gram Jaccard pair set as
    NGRAM_JACCARD_SQL, same keep-longest policy)."""
    return f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, lang, {toks('text')} AS tk FROM documents),
    sh AS (
        SELECT doc_id, lang, {_SHINGLES} AS sh, len(tk) // {LENGTH_BUCKET} AS lb
        FROM t
    ),
    prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.lb = b.lb
                           AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                    6) >= 0.4
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM prs
        UNION ALL
        SELECT doc_b, doc_a FROM prs
    ),
    reach(node, x) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    comp AS (SELECT node, min(x) AS comp FROM reach GROUP BY node),
    m AS (
        SELECT c.comp, c.node, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    ranked AS (
        SELECT comp, node, n_chars,
               row_number() OVER (
                   PARTITION BY comp ORDER BY n_chars DESC, node ASC
               ) AS rn
        FROM m
    )
    SELECT comp AS cluster_id,
           count(*) AS n_members,
           max(CASE WHEN rn = 1 THEN node END) AS keeper_doc_id,
           max(CASE WHEN rn = 1 THEN n_chars END) AS keeper_chars,
           CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
               AS dropped_chars
    FROM ranked GROUP BY comp ORDER BY cluster_id
"""


DEDUP_CANONICAL_KEEP_BEST_SQL = _canonical_keep_best_sql()


def _duplicate_clusters_exact_sql() -> str:
    """Same recursive-CTE closure as keep-best, emitting the CLUSTER-ROW
    shape of duplicate_clusters (sorted member string, min-id keeper)."""
    return f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, lang, {toks('text')} AS tk FROM documents),
    sh AS (
        SELECT doc_id, lang, {_SHINGLES} AS sh, len(tk) // {LENGTH_BUCKET} AS lb
        FROM t
    ),
    prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.lb = b.lb
                           AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                    6) >= 0.4
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM prs
        UNION ALL
        SELECT doc_b, doc_a FROM prs
    ),
    reach(node, x) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    comp AS (SELECT node, min(x) AS comp FROM reach GROUP BY node)
    SELECT comp AS cluster_id,
           count(*) AS n_members,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS member_doc_ids,
           comp AS keeper_doc_id,
           count(*) - 1 AS n_removed
    FROM comp GROUP BY comp ORDER BY cluster_id
"""


DEDUP_DUPLICATE_CLUSTERS_EXACT_SQL = _duplicate_clusters_exact_sql()


def _source_neardup_matrix_sql() -> str:
    """Twin of the near-dup source-flow matrix: the same recursive-CTE
    content-cluster closure as keep-best, then per-(component, source)
    doc counts through the shared flow-matrix tail."""
    return f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, lang, {toks('text')} AS tk FROM documents),
    sh AS (
        SELECT doc_id, lang, {_SHINGLES} AS sh, len(tk) // {LENGTH_BUCKET} AS lb
        FROM t
    ),
    prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.lb = b.lb
                           AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                    6) >= 0.4
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM prs
        UNION ALL
        SELECT doc_b, doc_a FROM prs
    ),
    reach(node, x) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    comp AS (SELECT node, min(x) AS comp FROM reach GROUP BY node),
    m AS (
        SELECT c.comp AS gkey, d.source, count(*) AS nd
        FROM comp c JOIN documents d ON d.doc_id = c.node
        GROUP BY 1, 2
    ),
    {_FLOW_MATRIX_TAIL}
"""


SOURCE_NEARDUP_MATRIX_SQL = _source_neardup_matrix_sql()


def _split_leakage_sql() -> str:
    """Near-dup clusters (the keep-best recursive-CTE closure) tagged
    with the hash-bucket split; leaked = members straddle splits."""
    from aws_saas_etl_spark.operators.sampling import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
    )

    b = _hash_bucket_sql("node")
    return f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, lang, {toks('text')} AS tk FROM documents),
    sh AS (
        SELECT doc_id, lang, {_SHINGLES} AS sh, len(tk) // {LENGTH_BUCKET} AS lb
        FROM t
    ),
    prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.lb = b.lb
                           AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                    6) >= 0.4
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM prs
        UNION ALL
        SELECT doc_b, doc_a FROM prs
    ),
    reach(node, x) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    comp AS (SELECT node, min(x) AS comp FROM reach GROUP BY node),
    tagged AS (
        SELECT comp, node,
               CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {b} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM comp
    )
    SELECT comp AS cluster_id,
           count(DISTINCT split) AS n_splits,
           count(*) AS n_docs,
           min(node) AS min_doc_id,
           string_agg(DISTINCT split, ',' ORDER BY split) AS splits,
           CAST(count(DISTINCT split) > 1 AS INT) AS leaked
    FROM tagged
    GROUP BY comp
    ORDER BY cluster_id
"""


SPLIT_LEAKAGE_SQL = _split_leakage_sql()


def _stream_hourly_stats_sql() -> str:
    """Windows closed by the availableNow drain's FINAL watermark: the
    flush batch after the last data batch emits every window with
    ``window_end <= max(ts) − delay``; open windows stay withheld. The
    fixture has no window_end exactly at the watermark (pinned in
    tests/test_streaming.py), so <= vs < cannot flip a row."""
    from aws_saas_etl_spark.streaming.pipelines import DEFAULT_WATERMARK

    assert DEFAULT_WATERMARK == "30 minutes"
    return f"""
    WITH wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events)
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{TS_FMT_DUCK}') AS window_start,
           event_type,
           count(*) AS n_events,
           {dsum_sql("value", 2)} AS sum_value
    FROM events, wm
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


STREAM_HOURLY_STATS_SQL = _stream_hourly_stats_sql()


def _stream_sliding_sql() -> str:
    """Sliding windows closed by the final watermark (same emission
    argument as the hourly twin; window length 1 h, slide 30 min)."""
    from aws_saas_etl_spark.streaming.pipelines import DEFAULT_WATERMARK

    assert DEFAULT_WATERMARK == "30 minutes"
    return f"""
    WITH wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events),
    wins AS (
        SELECT e.*, time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS w_start
        FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT strftime(w_start, '{TS_FMT_DUCK}')                     AS window_start,
           strftime(w_start + INTERVAL '1 hour', '{TS_FMT_DUCK}') AS window_end,
           count(*) AS n_events
    FROM wins, wm
    WHERE w_start + INTERVAL '1 hour' <= wm.w
    GROUP BY w_start
    ORDER BY window_start
"""


STREAM_SLIDING_SQL = _stream_sliding_sql()


def _stream_session_sql() -> str:
    """Gaps-and-islands sessions (the batch twin's SQL) restricted to
    sessions the final watermark closed: end = last event + gap,
    emitted iff end <= max(ts) − 30 min."""
    from aws_saas_etl_spark.streaming.pipelines import DEFAULT_WATERMARK

    assert DEFAULT_WATERMARK == "30 minutes"
    return f"""
    WITH wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events),
    marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER win IS NULL
                         OR ts - lag(ts) OVER win > INTERVAL '10 minutes'
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT *, sum(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
        ) AS sess_id
        FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '{TS_FMT_DUCK}')                          AS session_start,
           strftime(max(ts) + INTERVAL '10 minutes', '{TS_FMT_DUCK}')  AS session_end,
           count(*) AS n_events,
           {dsum_sql("value", 2)} AS sum_value
    FROM sessions, wm
    GROUP BY user_id, sess_id, wm.w
    HAVING max(ts) + INTERVAL '10 minutes' <= wm.w
    ORDER BY user_id, session_start
"""


STREAM_SESSION_SQL = _stream_session_sql()


def _stream_dedup_sql() -> str:
    """Survivor set of dropDuplicatesWithinWatermark over a complete
    drain = the events table itself, exact because event_ids are
    globally unique in the fixtures (pinned per scale in
    tests/test_streaming.py)."""
    return """
    SELECT event_id, user_id, event_type
    FROM events
    ORDER BY event_id
"""


STREAM_DEDUP_SQL = _stream_dedup_sql()


def _stream_running_totals_sql() -> str:
    """Final applyInPandasWithState state: all-events per-user count and
    rounded value sum (nulls contribute 0 via the kernel's fillna).
    Decimal convention on the oracle side; python-round(float) ==
    decimal half-up at the fixture scales is pinned in
    tests/test_streaming.py::test_running_totals_rounding_assumption."""
    return f"""
    SELECT user_id,
           count(*) AS n_events,
           {dsum_sql("coalesce(value, 0)", 2)} AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


STREAM_RUNNING_TOTALS_SQL = _stream_running_totals_sql()


def _stream_topk_sql() -> str:
    """Rank over the final-watermark-closed hourly windows (the
    sink-then-serve pattern's serving query, deterministic because the
    drained window set is)."""
    from aws_saas_etl_spark.streaming.pipelines import DEFAULT_WATERMARK
    from aws_saas_etl_spark.streaming.runners import TRENDING_TOP_K

    assert DEFAULT_WATERMARK == "30 minutes"
    return f"""
    WITH wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events),
    hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
               event_type,
               count(*) AS n_events
        FROM events, wm
        WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR <= wm.w
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY w_start ORDER BY n_events DESC, event_type ASC
        ) AS rank
        FROM hourly
    )
    SELECT strftime(w_start, '{TS_FMT_DUCK}') AS window_start,
           event_type, n_events, rank
    FROM ranked
    WHERE rank <= {TRENDING_TOP_K}
    ORDER BY window_start, rank
"""


STREAM_TOPK_SQL = _stream_topk_sql()


def _stream_click_unmatched_sql() -> str:
    """LEFT OUTER interval join twin: inner matches (emit on arrival)
    UNION the unmatched clicks evicted by the FINAL watermark. Each
    withWatermark node tracks only its own filtered side, so the global
    watermark is the MIN of the two sides' (max ts − delay); a click
    emits unmatched iff no purchase landed in its horizon AND
    ``click_ts + horizon < global watermark``."""
    from aws_saas_etl_spark.operators.events import ATTRIBUTION_HORIZON_MIN
    from aws_saas_etl_spark.streaming.pipelines import DEFAULT_WATERMARK

    assert DEFAULT_WATERMARK == "30 minutes"
    h = ATTRIBUTION_HORIZON_MIN
    return f"""
    WITH wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'click'),
            (SELECT max(ts) FROM events WHERE event_type = 'purchase')
        ) - INTERVAL 30 MINUTE AS w
    ),
    c AS (SELECT user_id, ts AS cts, event_id AS click_id
          FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id AS pu, ts AS pts, event_id AS purchase_id, value
          FROM events WHERE event_type = 'purchase'),
    matched AS (
        SELECT c.user_id, c.click_id, p.purchase_id,
               0 AS unconverted, p.value AS purchase_value
        FROM c JOIN p ON c.user_id = p.pu
                     AND p.pts >= c.cts
                     AND p.pts < c.cts + INTERVAL {h} MINUTE
    ),
    unmatched AS (
        SELECT c.user_id, c.click_id,
               CAST(NULL AS BIGINT) AS purchase_id,
               1 AS unconverted,
               CAST(NULL AS DOUBLE) AS purchase_value
        FROM c, wm
        WHERE NOT EXISTS (
                  SELECT 1 FROM p
                  WHERE p.pu = c.user_id
                    AND p.pts >= c.cts
                    AND p.pts < c.cts + INTERVAL {h} MINUTE
              )
          AND c.cts + INTERVAL {h} MINUTE < wm.w
    )
    SELECT * FROM matched
    UNION ALL
    SELECT * FROM unmatched
    ORDER BY click_id, purchase_id
"""


STREAM_CLICK_UNMATCHED_SQL = _stream_click_unmatched_sql()


def _shuffle_assignment_sql() -> str:
    from aws_saas_etl_spark.operators.curation import SHUFFLE_SALT, SHUFFLE_SHARDS

    return f"""
    WITH k AS (
        SELECT doc_id,
               md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        FROM documents WHERE doc_id IS NOT NULL
    ),
    s AS (
        SELECT doc_id, shuffle_key,
               CAST(('0x' || substr(shuffle_key, 1, 8))::BIGINT
                    % {SHUFFLE_SHARDS} AS INT) AS shard
        FROM k
    )
    SELECT doc_id, shuffle_key, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY shuffle_key, doc_id
           ) AS INT) AS pos
    FROM s ORDER BY shard, pos
"""


CORPUS_SHUFFLE_ASSIGNMENT_SQL = _shuffle_assignment_sql()


def _ngram_diversity_sql() -> str:
    from aws_saas_etl_spark.operators.curation import DIVERSITY_MAX_N

    branches = ["SELECT 1 AS n, unnest(tk) AS gram FROM t"]
    for n in range(2, DIVERSITY_MAX_N + 1):
        parts = ", ".join(f"tk[i+{j}]" if j else "tk[i]" for j in range(n))
        branches.append(
            f"SELECT {n}, unnest(list_transform("
            f"generate_series(1, greatest(len(tk) - {n - 1}, 0)), "
            f"i -> concat_ws(' ', {parts}))) FROM t"
        )
    union = "\n      UNION ALL\n      ".join(branches)
    return f"""
    WITH t AS (SELECT {toks('text')} AS tk FROM documents WHERE {DOC_DROPNA}),
    g AS (
      {union}
    )
    SELECT n,
           count(*) AS total_ngrams,
           count(DISTINCT gram) AS distinct_ngrams,
           {dround_sql('CAST(count(DISTINCT gram) AS DOUBLE) / count(*)', 6)}
               AS diversity
    FROM g GROUP BY n ORDER BY n
"""


CORPUS_NGRAM_DIVERSITY_SQL = _ngram_diversity_sql()


def _doc_bigram_logprob_sql() -> str:
    from aws_saas_etl_spark.operators.curation import BACKOFF_LAMBDA
    from aws_saas_etl_spark.operators.textops import BIGRAM_MIN_COUNT

    return f"""
    WITH t AS (SELECT doc_id, {toks('text')} AS tk FROM documents
               WHERE {DOC_DROPNA}),
    bg AS (
        SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
                   THEN list_transform(range(1, len(tk)),
                        i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))
                   ELSE [] END) AS g
        FROM t
    ),
    prs AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM bg),
    lm AS (
        SELECT w1, w2, count(*) AS c12 FROM prs GROUP BY w1, w2
        HAVING count(*) >= {BIGRAM_MIN_COUNT}
    ),
    ctx AS (SELECT w1 AS cw, count(*) AS c1 FROM prs GROUP BY w1),
    uni AS (SELECT unnest(tk) AS token FROM t),
    unic AS (SELECT token, count(*) AS cu FROM uni GROUP BY token),
    tot AS (SELECT count(*) AS n_total FROM uni),
    scored AS (
        SELECT p.doc_id,
               CASE WHEN lm.c12 IS NOT NULL
                    THEN CAST(lm.c12 AS DOUBLE) / ctx.c1
                    ELSE {BACKOFF_LAMBDA} * (CAST(unic.cu AS DOUBLE) / tot.n_total)
               END AS prob
        FROM prs p
        LEFT JOIN lm ON p.w1 = lm.w1 AND p.w2 = lm.w2
        JOIN ctx ON p.w1 = ctx.cw
        JOIN unic ON p.w2 = unic.token
        CROSS JOIN tot
    )
    SELECT doc_id, count(*) AS n_bigrams,
           {davg_sql('-ln(prob)', 6)} AS mean_neg_logp
    FROM scored GROUP BY doc_id ORDER BY doc_id
"""


DOC_BIGRAM_LOGPROB_SQL = _doc_bigram_logprob_sql()


def _ccnet_perplexity_buckets_sql() -> str:
    """Twin of the CCNet per-source thirds: the bigram-LM scorer reused
    verbatim as a CTE, per-source 1/3-2/3 ``quantile_cont`` cuts (same
    double literals as Python's ``1/3`` / ``2/3``; the interpolation
    equality is the hash-green deciles precedent), ties to the lower
    bucket via strict >."""
    third1, third2 = repr(1 / 3), repr(2 / 3)
    return f"""
    WITH scored AS ({DOC_BIGRAM_LOGPROB_SQL}),
    s AS (
        SELECT sc.doc_id, d.source, CAST(sc.mean_neg_logp AS DOUBLE) AS score
        FROM scored sc JOIN documents d USING (doc_id)
    ),
    cuts AS (
        SELECT source, quantile_cont(score, [{third1}, {third2}]) AS qs
        FROM s GROUP BY source
    )
    SELECT s.doc_id, s.source, s.score,
           CASE (CASE WHEN s.score > cuts.qs[1] THEN 1 ELSE 0 END
               + CASE WHEN s.score > cuts.qs[2] THEN 1 ELSE 0 END)
                WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM s JOIN cuts USING (source)
    ORDER BY s.doc_id
"""


CCNET_PERPLEXITY_BUCKETS_SQL = _ccnet_perplexity_buckets_sql()


def _semdedup_sql() -> str:
    from aws_saas_etl_spark.operators.curation import (
        SEMDEDUP_MAX_K,
        SEMDEDUP_MIN_K,
    )
    from aws_saas_etl_spark.operators.similarity import NEARDUP_COS_MIN

    def _pair_dot(x: str, y: str) -> str:
        return (
            f"list_aggregate(list_transform(generate_series(1, len({x})), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)), 'sum')"
        )

    dot_ab = _pair_dot("a.embedding", "b.embedding")
    norm_a = f"sqrt({_pair_dot('a.embedding', 'a.embedding')})"
    norm_b = f"sqrt({_pair_dot('b.embedding', 'b.embedding')})"
    # codebook size = clamp(floor(sqrt(n)), min, max) — integer-exact twin
    # of curation.semdedup_k (floor(sqrt()) is the same IEEE double op)
    return f"""
    WITH nn AS (
        SELECT least({SEMDEDUP_MAX_K},
                     greatest({SEMDEDUP_MIN_K},
                              CAST(floor(sqrt(count(*))) AS BIGINT))) AS k
        FROM embeddings
    ),
    c AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings, nn
        WHERE vec_id < nn.k
    ),
    v AS (SELECT vec_id, embedding AS q_emb FROM embeddings),
    sims AS (
        SELECT vec_id, centroid_id,
               round({_DOT_QC} / ({_NORM_Q} * {_NORM_C}), 6) AS cos_sim
        FROM v CROSS JOIN c
    ),
    best AS (
        SELECT vec_id, centroid_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id
            ) AS rn FROM sims
        ) WHERE rn = 1
    ),
    assigned AS (
        SELECT b.vec_id, b.centroid_id, e.embedding
        FROM best b JOIN embeddings e ON e.vec_id = b.vec_id
    ),
    pr AS (
        SELECT a.centroid_id, b.vec_id AS dropped_vec,
               round({dot_ab} / ({norm_a} * {norm_b}), 6) AS cs
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    ),
    dropped AS (
        SELECT DISTINCT centroid_id, dropped_vec FROM pr
        WHERE cs >= {NEARDUP_COS_MIN}
    ),
    sizes AS (
        SELECT centroid_id, count(*) AS n_vectors FROM assigned
        GROUP BY centroid_id
    ),
    drops AS (
        SELECT centroid_id, count(*) AS n_dropped FROM dropped
        GROUP BY centroid_id
    )
    SELECT s.centroid_id, s.n_vectors,
           coalesce(d.n_dropped, 0) AS n_dropped,
           {dround_sql(
               'CAST(s.n_vectors - coalesce(d.n_dropped, 0) AS DOUBLE)'
               ' / s.n_vectors', 6)} AS keep_rate
    FROM sizes s LEFT JOIN drops d USING (centroid_id)
    ORDER BY s.centroid_id
"""


EMBEDDING_SEMDEDUP_SQL = _semdedup_sql()


def _curation_report_sql() -> str:
    return f"""
    WITH d AS (
        SELECT source, lang, n_chars, text AS h,
               len({toks('text')}) AS n_tokens
        FROM documents WHERE {DOC_DROPNA}
    )
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT h) AS n_distinct_texts,
           {dround_sql('CAST(count(*) - count(DISTINCT h) AS DOUBLE) / count(*)', 6)}
               AS dup_rate,
           count(DISTINCT lang) AS n_langs,
           {davg_sql('n_chars', 2)} AS mean_chars,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM d GROUP BY source ORDER BY source
"""


CORPUS_CURATION_REPORT_SQL = _curation_report_sql()


def _token_budget_sample_sql() -> str:
    from aws_saas_etl_spark.operators.curation import TOKEN_BUDGET

    return f"""
    WITH d AS (
        SELECT doc_id, n_chars, len({toks('text')}) AS n_tokens
        FROM documents WHERE {DOC_DROPNA}
    ),
    buckets AS (
        SELECT n_chars, sum(n_tokens) AS btoks FROM d GROUP BY n_chars
    ),
    cum AS (
        SELECT n_chars, btoks,
               sum(btoks) OVER (ORDER BY n_chars DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM buckets
    ),
    boundary AS (
        SELECT n_chars AS b_chars, c - btoks AS spent FROM cum
        WHERE c > {TOKEN_BUDGET} ORDER BY n_chars DESC LIMIT 1
    ),
    full_docs AS (
        SELECT d.doc_id, d.n_chars, d.n_tokens, 'full_bucket' AS selection
        FROM d JOIN cum ON d.n_chars = cum.n_chars
        WHERE cum.c <= {TOKEN_BUDGET}
    ),
    boundary_docs AS (
        SELECT doc_id, n_chars, n_tokens, 'boundary' AS selection FROM (
            SELECT d.doc_id, d.n_chars, d.n_tokens,
                   sum(d.n_tokens) OVER (PARTITION BY d.n_chars ORDER BY d.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   + b.spent AS c
            FROM d JOIN boundary b ON d.n_chars = b.b_chars
        ) WHERE c <= {TOKEN_BUDGET}
    )
    SELECT * FROM full_docs
    UNION ALL
    SELECT * FROM boundary_docs
    ORDER BY doc_id
"""


CORPUS_TOKEN_BUDGET_SAMPLE_SQL = _token_budget_sample_sql()


def _stream_custom_source_sql() -> str:
    from aws_saas_etl_spark.sources.custom import STREAM_TOTAL_ROWS

    return f"""
    WITH src AS (
        SELECT i % 97 AS user_id,
               round((i * 31) % 1000 / 10.0, 1) AS value
        FROM (SELECT unnest(range({STREAM_TOTAL_ROWS})) AS i)
    )
    SELECT user_id,
           count(*) AS n_events,
           {dsum_sql("value", 2)} AS total_value
    FROM src
    GROUP BY user_id
    ORDER BY user_id
"""


STREAM_CUSTOM_SOURCE_SQL = _stream_custom_source_sql()


def _custom_sink_roundtrip_sql() -> str:
    from aws_saas_etl_spark.sources.custom import (
        DEFAULT_PARTITIONS,
        DEFAULT_ROWS_PER_PARTITION,
    )

    total = DEFAULT_PARTITIONS * DEFAULT_ROWS_PER_PARTITION
    return f"""
    WITH src AS (
        SELECT i AS event_id,
               i % 97 AS user_id,
               round((i * 31) % 1000 / 10.0, 1) AS value
        FROM (SELECT unnest(range({total})) AS i)
    )
    SELECT event_id % 13 AS bucket,
           count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users,
           min(value) AS min_value,
           max(value) AS max_value,
           {dsum_sql("value", 2)} AS total_value
    FROM src
    GROUP BY bucket
    ORDER BY bucket
"""


CUSTOM_SINK_ROUNDTRIP_SQL = _custom_sink_roundtrip_sql()


def _stream_custom_sink_sql() -> str:
    from aws_saas_etl_spark.sources.custom import STREAM_TOTAL_ROWS

    return f"""
    WITH src AS (
        SELECT i AS event_id,
               i % 97 AS user_id,
               round((i * 31) % 1000 / 10.0, 1) AS value
        FROM (SELECT unnest(range({STREAM_TOTAL_ROWS})) AS i)
    )
    SELECT user_id % 7 AS user_band,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS first_event,
           max(event_id) AS last_event,
           {dsum_sql("value", 2)} AS total_value
    FROM src
    GROUP BY user_band
    ORDER BY user_band
"""


STREAM_CUSTOM_SINK_SQL = _stream_custom_sink_sql()


def _doc_chunk_spans_sql() -> str:
    from aws_saas_etl_spark.operators.textops import (
        CHUNK_MAX_TOKENS,
        CHUNK_OVERLAP,
    )

    stride = CHUNK_MAX_TOKENS - CHUNK_OVERLAP
    return f"""
    WITH t AS (SELECT doc_id, {toks('text')} AS tk FROM documents
               WHERE {DOC_DROPNA}),
    starts AS (
        SELECT doc_id, tk,
               unnest(range(0, greatest(len(tk) - {CHUNK_OVERLAP} - 1, 0) + 1,
                            {stride})) AS start
        FROM t WHERE len(tk) > 0
    ),
    chunks AS (
        SELECT doc_id,
               CAST(start / {stride} AS INT) AS chunk_idx,
               start,
               least({CHUNK_MAX_TOKENS}, len(tk) - start) AS n_tokens,
               array_to_string(
                   list_slice(tk, start + 1, start + {CHUNK_MAX_TOKENS}), ' '
               ) AS chunk_text
        FROM starts
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS total_chunk_tokens,
           CAST(max(start) AS INT) AS last_chunk_start,
           CAST(sum(('0x' || substr(md5(
               CAST(chunk_idx AS VARCHAR) || '|'
               || CAST(start AS VARCHAR) || '|'
               || chunk_text
           ), 1, 8))::BIGINT) AS BIGINT) AS chunk_checksum
    FROM chunks
    GROUP BY doc_id
    ORDER BY doc_id
"""


DOC_CHUNK_SPANS_SQL = _doc_chunk_spans_sql()


def _cusum_sql() -> str:
    from aws_saas_etl_spark.operators.events import CUSUM_H, CUSUM_SLACK

    return f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS c
        FROM events WHERE ts IS NOT NULL
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    stats AS (
        SELECT event_type AS et, count(*) AS n_hours,
               sum(c) AS s1, sum(c * c) AS s2
        FROM hourly GROUP BY event_type
    ),
    base AS (
        SELECT event_type, hour, c,
               CAST(s1 AS DOUBLE) / n_hours AS mean,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_hours)
                   / (n_hours - 1) AS var
        FROM hourly JOIN stats ON event_type = et
        WHERE n_hours > 1
          AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_hours)
              / (n_hours - 1) > 0
    ),
    seq AS (
        SELECT event_type, hour, c, sqrt(var) AS sigma,
               sum(CAST(c AS DOUBLE) - (mean + {CUSUM_SLACK} * sqrt(var))) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM base
    ),
    sm AS (
        SELECT *, least(0.0, min(p) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS runmin
        FROM seq
    )
    SELECT event_type, strftime(hour, '{TS_FMT_DUCK}') AS hour, c,
           {dround_sql('(p - runmin) / sigma', 4)} AS cusum_sigma,
           CAST((p - runmin) / sigma > {CUSUM_H} AS INT) AS flagged
    FROM sm ORDER BY event_type, hour
"""


EVENTS_CUSUM_SQL = _cusum_sql()


def _supplier_pagerank_sql() -> str:
    """Recursive-CTE twin of the bounded-iteration PageRank loop
    (operators/graph.py). Mirrors the Spark arithmetic EXACTLY:
    per-edge contribution = double(rank) * share (share is a double
    division), cast to DECIMAL(28,12) per addend, decimal SUM
    (order-independent), then teleport via the PYTHON double literals —
    ``repr(1.0 - damping)`` is 0.15000000000000002, not 0.15; a bare
    0.15 literal would diverge in the 17th digit and cascade through
    rounds. Iteration count and damping come from the same module
    constants the Spark loop resolves at call time."""
    from aws_saas_etl_spark.operators.graph import PR_DAMPING, PR_ITERS

    teleport = repr(1.0 - PR_DAMPING)
    damping = repr(PR_DAMPING)
    return f"""
    WITH RECURSIVE
    trade AS (
        SELECT o_custkey, l_suppkey, count(*) AS weight
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_suppkey
    ),
    edges AS (
        SELECT -o_custkey AS src, l_suppkey AS dst,
               CAST(weight AS DOUBLE) AS weight FROM trade
        UNION ALL
        SELECT l_suppkey, -o_custkey, CAST(weight AS DOUBLE) FROM trade
    ),
    ow AS (SELECT src AS osrc, sum(weight) AS out_w FROM edges GROUP BY src),
    e AS (
        SELECT src, dst, weight / out_w AS share
        FROM edges JOIN ow ON src = osrc
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    pr(iter, node, rank) AS (
        SELECT 0, node, CAST(1.0 AS DECIMAL(28,12)) FROM nodes
        UNION ALL
        SELECT p.iter + 1, e.dst,
               CAST({teleport} + {damping} * CAST(
                   sum(CAST(CAST(p.rank AS DOUBLE) * e.share AS DECIMAL(28,12)))
               AS DOUBLE) AS DECIMAL(28,12))
        FROM pr p JOIN e ON e.src = p.node
        WHERE p.iter < {PR_ITERS}
        GROUP BY p.iter, e.dst
    )
    SELECT node AS s_suppkey,
           CAST(round(rank, 6) AS DOUBLE) AS pagerank
    FROM pr
    WHERE iter = {PR_ITERS} AND node > 0
    ORDER BY pagerank DESC, s_suppkey ASC
    LIMIT 20
"""


SUPPLIER_PAGERANK_SQL = _supplier_pagerank_sql()


def _stream_enrichment_sql() -> str:
    from aws_saas_etl_spark.streaming.runners import DIM_USERS, DIM_VIP_MOD

    return f"""
    SELECT event_id, user_id, event_type,
           CASE WHEN user_id >= 0 AND user_id < {DIM_USERS}
                THEN CASE WHEN user_id % {DIM_VIP_MOD} = 0
                          THEN 'vip' ELSE 'std' END
           END AS user_segment
    FROM events
"""


STREAM_ENRICHMENT_SQL = _stream_enrichment_sql()


def _stream_click_attribution_sql() -> str:
    from aws_saas_etl_spark.operators.events import ATTRIBUTION_HORIZON_MIN

    # same interval-join twin as the batch query, but purchase_value is
    # the RAW double (the stream pipeline emits the unrounded column)
    return f"""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) AS BIGINT)
             - CAST(floor(epoch(c.ts)) AS BIGINT) AS secs_to_purchase,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL {ATTRIBUTION_HORIZON_MIN} MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ORDER BY click_id, purchase_id
"""


STREAM_CLICK_ATTRIBUTION_SQL = _stream_click_attribution_sql()


# Stream upsert final state = per-user latest event. Exact because
# per-user timestamps are unique at every fixture scale (verified 0
# (user_id, ts) collisions at sf0.001/0.01/0.1): cross-batch ties would
# otherwise resolve by batch id, which SQL cannot see.
STREAM_UPSERT_STATE_SQL = """
    SELECT event_id, user_id, event_type FROM (
        SELECT event_id, user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    ORDER BY user_id
"""


def _logreg_chain(prefix: str = "", fit_where: str = "") -> tuple[str, str]:
    """Shared CTE chain of the GD logistic-regression twins: the three
    unrolled iterations re-derive the weights from the raw parquet with
    the SAME exact-integer sufficient statistics (features and sigmoid
    quantized to bigint, so every gradient sum is order-independent) and
    the SAME left-associated double arithmetic — the constants are read
    from the module the Spark lambdas bind. Returns (with_body,
    scored_subquery) where the subquery yields (doc_id, y, p).

    ``prefix`` renames the weight/gradient CTEs (so two chains compose in
    one query — the staleness twin); a non-empty chain omits nothing else.
    ``fit_where`` restricts the rows the GRADIENT aggregates see (the
    stale fit) — scoring always reads all of ``f``. Defaults produce the
    byte-identical original chain. The features CTE ``f`` is emitted only
    by the unprefixed chain; prefixed chains reuse it."""
    from aws_saas_etl_spark.operators.curation import (
        LOGREG_ITERS,
        LOGREG_LR,
        LOGREG_P_SCALE,
        LOGREG_X_SCALE,
    )

    xs = float(LOGREG_X_SCALE)
    ps = float(LOGREG_P_SCALE)
    denom = float(LOGREG_P_SCALE * LOGREG_X_SCALE)
    js = (1, 2, 3, 4)

    # explicit left-association to mirror the Spark expression tree
    z = f"((w.w1 * (x1 / {xs}) + w.w2 * (x2 / {xs})) + w.w3 * (x3 / {xs})) + w.w4 * (x4 / {xs})"
    pq = f"CAST(round((1.0 / (1.0 + exp(-({z})))) * {ps}) AS BIGINT)"

    iters = []
    prev_w = f"{prefix}w0"
    where = f" WHERE {fit_where}" if fit_where else ""
    for i in range(1, LOGREG_ITERS + 1):
        sums = ", ".join(f"sum((pq - y * {LOGREG_P_SCALE}) * x{j}) AS s{j}" for j in js)
        carry = ", ".join(f"min(w{j}) AS wp{j}" for j in js)
        upd = ", ".join(
            f"wp{j} - {LOGREG_LR} * (CAST(s{j} AS DOUBLE) / (CAST(n AS DOUBLE) * {denom})) AS w{j}"
            for j in js
        )
        iters.append(
            f"""{prefix}g{i} AS (
        SELECT {sums}, count(*) AS n, {carry}
        FROM (SELECT f.*, w.w1, w.w2, w.w3, w.w4, {pq} AS pq FROM f, {prev_w} w{where})
    ),
    {prefix}w{i}t AS (SELECT {upd} FROM {prefix}g{i})"""
        )
        prev_w = f"{prefix}w{i}t"

    iter_sql = ",\n    ".join(iters)
    zero_w = ", ".join(f"0.0 AS w{j}" for j in js)
    if prefix:
        return (
            f"""{prefix}w0 AS (SELECT {zero_w}),
    {iter_sql}""",
            f"(SELECT doc_id, y, 1.0 / (1.0 + exp(-({z}))) AS p FROM f, {prev_w} w)",
        )
    return f"""
    WITH f AS (
        SELECT doc_id,
               CAST(round((CASE WHEN len(tk) > 0
                    THEN len(list_filter(tk, x -> list_contains({_EN_STOPS}, x))) / CAST(len(tk) AS DOUBLE)
                    ELSE 0.0 END) * {xs}) AS BIGINT) AS x1,
               CAST(round((CASE WHEN length(text) > 0
                    THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / CAST(length(text) AS DOUBLE)
                    ELSE 0.0 END) * {xs}) AS BIGINT) AS x2,
               CAST(round(((CASE WHEN len(tk) > 0
                    THEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk)
                    ELSE 0.0 END) / 10.0) * {xs}) AS BIGINT) AS x3,
               CAST({LOGREG_X_SCALE} AS BIGINT) AS x4,
               CAST(lang = 'en' AS BIGINT) AS y
        FROM (SELECT doc_id, text, lang, {toks('text')} AS tk FROM documents
              WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL)
    ),
    w0 AS (SELECT {zero_w}),
    {iter_sql}""", f"(SELECT doc_id, y, 1.0 / (1.0 + exp(-({z}))) AS p FROM f, {prev_w} w)"


def _quality_logreg_sql() -> str:
    body, scored = _logreg_chain()
    return f"""{body}
    SELECT doc_id, y AS label,
           {dround_sql('p', 6)} AS score,
           CAST(p >= 0.5 AS BIGINT) AS pred
    FROM {scored}
    ORDER BY doc_id
"""


QUALITY_LOGREG_SQL = _quality_logreg_sql()


def _logreg_calibration_sql() -> str:
    """Twin of the calibration report: the same scored chain bucketed by
    score decile — mean predicted probability vs empirical label rate per
    bucket (the reliability-diagram table)."""
    body, scored = _logreg_chain()
    return f"""{body},
    sc AS (SELECT doc_id, y, {dround_sql('p', 6)} AS score FROM {scored}),
    bk AS (SELECT CAST(least(floor(score * 10), 9) AS INT) AS bucket, y, score FROM sc)
    SELECT bucket,
           count(*) AS n_docs,
           {davg_sql('score', 6)} AS mean_score,
           {dround_sql('CAST(sum(y) AS DOUBLE) / count(*)', 6)} AS label_rate
    FROM bk
    GROUP BY bucket
    ORDER BY bucket
"""


LOGREG_CALIBRATION_SQL = _logreg_calibration_sql()


def _bpe_merges_sql() -> str:
    """Twin of BPE merge learning: the same vocab aggregate, and per
    unrolled round the same pair count / (freq DESC, pair ASC) argmax /
    double space-padded literal replace — both engines scan
    resume-after-replacement, so the rewritten vocab is byte-identical."""
    from aws_saas_etl_spark.operators.textops import BPE_MERGES

    rounds = []
    selects = []
    prev = "v0"
    for i in range(1, BPE_MERGES + 1):
        rounds.append(
            f"""p{i} AS (
        SELECT pair, sum(freq) AS freq
        FROM (SELECT freq,
                     unnest(list_transform(generate_series(1, len(a) - 1),
                                           k -> a[k] || ' ' || a[k + 1])) AS pair
              FROM (SELECT string_split(s, ' ') AS a, freq FROM {prev}))
        GROUP BY pair
    ),
    b{i} AS (SELECT pair, freq FROM p{i} ORDER BY freq DESC, pair ASC LIMIT 1)"""
        )
        selects.append(
            f"SELECT {i} AS merge_rank, string_split(pair, ' ')[1] AS left_sym,"
            f" string_split(pair, ' ')[2] AS right_sym,"
            f" replace(pair, ' ', '') AS merged,"
            f" CAST(freq AS BIGINT) AS pair_freq FROM b{i}"
        )
        if i < BPE_MERGES:
            rounds.append(
                f"""v{i} AS (
        SELECT trim(replace(replace(' ' || v.s || ' ',
                                    ' ' || b.pair || ' ',
                                    ' ' || replace(b.pair, ' ', '') || ' '),
                            ' ' || b.pair || ' ',
                            ' ' || replace(b.pair, ' ', '') || ' ')) AS s,
               v.freq
        FROM {prev} v, b{i} b
    )"""
            )
            prev = f"v{i}"

    body = ",\n    ".join(rounds)
    union = "\n    UNION ALL ".join(selects)
    return f"""
    WITH v0 AS (
        SELECT trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS s, freq
        FROM (SELECT token, CAST(count(*) AS BIGINT) AS freq
              FROM (SELECT unnest({toks('text')}) AS token FROM documents)
              GROUP BY token)
    ),
    {body}
    {union}
    ORDER BY merge_rank
"""


BPE_MERGES_SQL = _bpe_merges_sql()


def _bpe_tokenize_sql() -> str:
    """Twin of BPE application: the trainer's vocab/round CTEs (token
    column carried through), then the per-doc symbol-count aggregate.
    Docs with zero alphabetic tokens drop out on both sides (inner join
    after the explode)."""
    from aws_saas_etl_spark.operators.textops import BPE_MERGES

    rounds = []
    prev = "v0"
    for i in range(1, BPE_MERGES + 1):
        rounds.append(
            f"""p{i} AS (
        SELECT pair, sum(freq) AS freq
        FROM (SELECT freq,
                     unnest(list_transform(generate_series(1, len(a) - 1),
                                           k -> a[k] || ' ' || a[k + 1])) AS pair
              FROM (SELECT string_split(s, ' ') AS a, freq FROM {prev}))
        GROUP BY pair
    ),
    b{i} AS (SELECT pair FROM p{i} ORDER BY freq DESC, pair ASC LIMIT 1),
    v{i} AS (
        SELECT v.token,
               trim(replace(replace(' ' || v.s || ' ',
                                    ' ' || b.pair || ' ',
                                    ' ' || replace(b.pair, ' ', '') || ' '),
                            ' ' || b.pair || ' ',
                            ' ' || replace(b.pair, ' ', '') || ' ')) AS s,
               v.freq
        FROM {prev} v, b{i} b
    )"""
        )
        prev = f"v{i}"

    body = ",\n    ".join(rounds)
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest({toks('text')}) AS token
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    v0 AS (
        SELECT token, trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS s, freq
        FROM (SELECT token, CAST(count(*) AS BIGINT) AS freq
              FROM tok GROUP BY token)
    ),
    {body},
    pt AS (SELECT token, length(token) AS n_chars,
                  len(string_split(s, ' ')) AS n_syms
           FROM {prev})
    SELECT doc_id,
           CAST(sum(n_chars) AS BIGINT) AS char_symbols,
           CAST(sum(n_syms) AS BIGINT) AS bpe_symbols,
           {dround_sql('CAST(sum(n_syms) AS DOUBLE) / sum(n_chars)', 6)} AS compression
    FROM tok JOIN pt USING (token)
    GROUP BY doc_id
    ORDER BY doc_id
"""


BPE_TOKENIZE_SQL = _bpe_tokenize_sql()


def _bpe_learn_rounds(tag: str, v0: str, n_merges: int, carry_token: bool) -> str:
    """Unrolled BPE rounds under a CTE-name ``tag``: per round the pair
    count over ``{tag}v{i-1}``, the (freq DESC, pair ASC) argmax
    ``{tag}b{i}``, and the rewritten vocab ``{tag}v{i}`` (token column
    carried through when ``carry_token``). Shared by the staleness twin's
    fresh and stale chains."""
    tok_col = "v.token,\n               " if carry_token else ""
    rounds = []
    prev = v0
    for i in range(1, n_merges + 1):
        rounds.append(
            f"""{tag}p{i} AS (
        SELECT pair, sum(freq) AS freq
        FROM (SELECT freq,
                     unnest(list_transform(generate_series(1, len(a) - 1),
                                           k -> a[k] || ' ' || a[k + 1])) AS pair
              FROM (SELECT string_split(s, ' ') AS a, freq FROM {prev}))
        GROUP BY pair
    ),
    {tag}b{i} AS (SELECT pair FROM {tag}p{i} ORDER BY freq DESC, pair ASC LIMIT 1),
    {tag}v{i} AS (
        SELECT {tok_col}trim(replace(replace(' ' || v.s || ' ',
                                    ' ' || b.pair || ' ',
                                    ' ' || replace(b.pair, ' ', '') || ' '),
                            ' ' || b.pair || ' ',
                            ' ' || replace(b.pair, ' ', '') || ' ')) AS s,
               v.freq
        FROM {prev} v, {tag}b{i} b
    )"""
        )
        prev = f"{tag}v{i}"
    return ",\n    ".join(rounds)


def _bpe_apply_rounds(tag: str, rule_tag: str, v0: str, n_merges: int) -> str:
    """Rewrite a token-carrying vocab under ANOTHER chain's learned rules
    (``{rule_tag}b{i}``) — the staleness twin's 'stale rules applied to
    the grown corpus' arm."""
    rounds = []
    prev = v0
    for i in range(1, n_merges + 1):
        rounds.append(
            f"""{tag}v{i} AS (
        SELECT v.token,
               trim(replace(replace(' ' || v.s || ' ',
                                    ' ' || b.pair || ' ',
                                    ' ' || replace(b.pair, ' ', '') || ' '),
                            ' ' || b.pair || ' ',
                            ' ' || replace(b.pair, ' ', '') || ' ')) AS s,
               v.freq
        FROM {prev} v, {rule_tag}b{i} b
    )"""
        )
        prev = f"{tag}v{i}"
    return ",\n    ".join(rounds)


def _bpe_staleness_sql() -> str:
    """Twin of the tokenizer staleness report: a FRESH chain (learn on
    the full corpus, token carried — the tokenize twin's shape) and a
    STALE chain (learn on the base half-slice via the integer-rank cut
    over DISTINCT doc_id, then APPLY those rules to the full vocab),
    reduced to the 1-row rule-diff + symbol-drift pricing table. All
    outputs exact integers; DuckDB HUGEINT sums cast back to BIGINT."""
    from aws_saas_etl_spark.operators.textops import BPE_MERGES, BPE_STALE_DENOM

    fresh_rules = "\n        UNION ALL ".join(
        f"SELECT {i} AS rank_f, replace(pair, ' ', '') AS merged_f FROM fb{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    stale_rules = "\n        UNION ALL ".join(
        f"SELECT {i} AS rank_s, replace(pair, ' ', '') AS merged_s FROM sb{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return f"""
    WITH d AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    nall AS (SELECT count(DISTINCT doc_id) AS n FROM d),
    cutv AS (
        SELECT max(doc_id) AS cut FROM (
            SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
            FROM (SELECT DISTINCT doc_id FROM d)) r, nall
        WHERE r.rn <= nall.n - nall.n // {BPE_STALE_DENOM}
    ),
    tok AS (SELECT doc_id, unnest({toks('text')}) AS token FROM d),
    fv0 AS (
        SELECT token, trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS s, freq
        FROM (SELECT token, CAST(count(*) AS BIGINT) AS freq
              FROM tok GROUP BY token)
    ),
    sv0 AS (
        SELECT trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS s, freq
        FROM (SELECT token, CAST(count(*) AS BIGINT) AS freq
              FROM tok WHERE doc_id <= (SELECT cut FROM cutv)
              GROUP BY token)
    ),
    {_bpe_learn_rounds('f', 'fv0', BPE_MERGES, carry_token=True)},
    {_bpe_learn_rounds('s', 'sv0', BPE_MERGES, carry_token=False)},
    {_bpe_apply_rounds('a', 's', 'fv0', BPE_MERGES)},
    ptf AS (SELECT token, len(string_split(s, ' ')) AS n_syms FROM fv{BPE_MERGES}),
    pts AS (SELECT token, len(string_split(s, ' ')) AS n_syms FROM av{BPE_MERGES}),
    fresh AS (
        SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS syms_fresh
        FROM tok JOIN ptf USING (token) GROUP BY doc_id
    ),
    stale AS (
        SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS syms_stale
        FROM tok JOIN pts USING (token) GROUP BY doc_id
    ),
    drift AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN syms_fresh <> syms_stale THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_drifted,
               CAST(sum(syms_fresh) AS BIGINT) AS sum_syms_fresh,
               CAST(sum(syms_stale) AS BIGINT) AS sum_syms_stale
        FROM fresh JOIN stale USING (doc_id)
    ),
    frules AS (
        {fresh_rules}
    ),
    srules AS (
        {stale_rules}
    ),
    rd AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rules,
               CAST(coalesce(sum(CASE WHEN rank_f = rank_s THEN 1 END), 0)
                    AS BIGINT) AS n_rules_same_rank,
               CAST(sum(CASE WHEN rank_s IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rules_shared
        FROM frules LEFT JOIN srules ON merged_f = merged_s
    )
    SELECT rd.n_rules, rd.n_rules_same_rank, rd.n_rules_shared,
           drift.n_docs, drift.n_docs_drifted,
           drift.sum_syms_fresh, drift.sum_syms_stale
    FROM rd, drift
"""


BPE_STALENESS_SQL = _bpe_staleness_sql()


def _stream_logreg_score_sql() -> str:
    """Twin of the streaming scorer: the same unrolled-GD chain, scores
    quantized to exact BIGINT and reduced to the per-label audit the
    drained stream emits (batching-invariant by statelessness)."""
    body, scored = _logreg_chain()
    return f"""{body},
    sq AS (SELECT y, CAST(round(p * 1000000.0) AS BIGINT) AS score_q,
                  CAST(p >= 0.5 AS BIGINT) AS pred
           FROM {scored})
    SELECT y AS label,
           count(*) AS n_docs,
           CAST(sum(score_q) AS BIGINT) AS sum_score_q,
           CAST(sum(pred) AS BIGINT) AS n_pred_pos
    FROM sq
    GROUP BY y
    ORDER BY label
"""


STREAM_LOGREG_SCORE_SQL = _stream_logreg_score_sql()


def _quality_rm_subquery() -> str:
    """Removal-set SUBQUERY of the calibration-driven quality gate — the
    unrolled-GD scorer chain, exact-percentile rank-decile edges
    (``quantile_cont`` ≡ Spark ``percentile``), per-decile label rates
    via the shared decimal round, lowest decile clearing the bar sets
    the threshold at its lower edge. References an outer ``man`` CTE
    only for the (gate-invariant) train-split condition; the scorer and
    calibration are manifest-independent. ONE definition shared by the
    solo quality-filtered twin and the full-pipeline twin."""
    from aws_saas_etl_spark.operators.curation import QUALITY_GATE_MIN_RATE

    body, scored = _logreg_chain()
    lr = body.replace("WITH f AS", "WITH\n    f AS", 1)
    fracs = ", ".join(str(i / 10) for i in range(1, 10))
    return f"""(
    {lr.strip()},
    sc AS (SELECT doc_id, y AS label, {dround_sql('p', 6)} AS score FROM {scored}),
    ct AS (SELECT quantile_cont(score, [{fracs}]) AS cuts FROM sc),
    bk AS (
        SELECT sc.doc_id, sc.label, sc.score,
               len(list_filter(ct.cuts, c -> sc.score > c)) AS dec
        FROM sc, ct
    ),
    rt AS (
        SELECT dec,
               {dround_sql('CAST(sum(label) AS DOUBLE) / count(*)', 6)}
                   AS label_rate
        FROM bk GROUP BY dec
    ),
    qd AS (SELECT min(dec) AS cut_dec FROM rt
           WHERE label_rate >= {QUALITY_GATE_MIN_RATE}),
    th AS (SELECT CASE WHEN qd.cut_dec >= 1 THEN ct.cuts[qd.cut_dec] END AS thr
           FROM qd, ct)
    SELECT m.doc_id
    FROM man m JOIN sc ON m.doc_id = sc.doc_id, th
    WHERE m.split = 'train' AND sc.score <= th.thr
    )"""


def _quality_filtered_manifest_sql() -> str:
    """Twin of the quality-filtered manifest: the full-manifest twin as
    a CTE, the shared quality removal-set subquery, and the same
    anti-join + stored-pos re-rank as the decontamination twin."""
    return f"""
    WITH man AS ({TRAINING_MANIFEST_SQL}),
    rm AS {_quality_rm_subquery()}
    SELECT m.doc_id, m.split, m.shard,
           row_number() OVER (PARTITION BY m.split, m.shard ORDER BY m.pos)
               AS pos,
           m.n_tokens
    FROM man m LEFT JOIN rm ON m.doc_id = rm.doc_id
    WHERE rm.doc_id IS NULL
    ORDER BY m.split, m.shard, pos
"""


QUALITY_FILTERED_MANIFEST_SQL = _quality_filtered_manifest_sql()


def _span_cleaned_manifest_sql() -> str:
    """Twin of the span-cleaned manifest: the full-manifest twin and the
    span-removal twin (each already proven standalone) composed by one
    doc_id join, emptied docs dropped, and the same stored-pos re-rank
    as every manifest maintenance twin."""
    return f"""
    WITH man AS ({TRAINING_MANIFEST_SQL}),
    sr AS ({DUPLICATE_SPAN_REMOVAL_SQL})
    SELECT m.doc_id, m.split, m.shard,
           row_number() OVER (PARTITION BY m.split, m.shard ORDER BY m.pos)
               AS pos,
           m.n_tokens, sr.kept_tokens, sr.removed_tokens
    FROM man m JOIN sr USING (doc_id)
    WHERE sr.kept_tokens > 0
    ORDER BY m.split, m.shard, pos
"""


SPAN_CLEANED_MANIFEST_SQL = _span_cleaned_manifest_sql()


def _logreg_staleness_sql() -> str:
    """Twin of the classifier staleness report: the fresh chain (fit on
    all docs) and a prefixed stale chain (gradients restricted to the
    historical base slice via the integer-rank cut CTE every
    *_incremental twin uses), both scoring ALL docs, reduced to the
    per-label flip/drift audit over exact BIGINT quantized scores."""
    body, scored_fresh = _logreg_chain()
    stale_body, scored_stale = _logreg_chain(
        prefix="st", fit_where="f.doc_id <= (SELECT cut FROM cutv)"
    )
    return f"""{body},
    nall AS (SELECT count(DISTINCT doc_id) AS n FROM f),
    cutv AS (
        -- rank over DISTINCT doc_id, matching the Spark side's
        -- feats.select("doc_id").distinct() cut derivation (ADVICE r10):
        -- the two definitions stay equal even if a fixture ever carries
        -- a duplicate doc_id
        SELECT max(doc_id) AS cut FROM (
            SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
            FROM (SELECT DISTINCT doc_id FROM f)) r, nall
        WHERE r.rn <= nall.n - nall.n // 10
    ),
    {stale_body}
    SELECT y AS label,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN (pf >= 0.5) <> (ps >= 0.5) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred_flips,
           CAST(sum(CAST(round(pf * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_q_fresh,
           CAST(sum(CAST(round(ps * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_q_stale
    FROM (SELECT a.doc_id, a.y, a.p AS pf, b.p AS ps
          FROM {scored_fresh} a JOIN {scored_stale} b USING (doc_id))
    GROUP BY y
    ORDER BY label
"""


LOGREG_STALENESS_SQL = _logreg_staleness_sql()


def _dedup_funnel_sql() -> str:
    """Twin of the dedup funnel: the three hash rungs as one aggregate
    over the filtered corpus, the near-dup rung via the SAME band-pair +
    recursive-closure CTEs as the clusters twin, reduced to two counts,
    and (r11) the span rung via the coverage twin's duplicated-gram +
    LEAD-disjoint CTEs reduced to two token sums."""
    from aws_saas_etl_spark.operators.dedup import JACCARD_MIN
    from aws_saas_etl_spark.operators.textops import SUBSTR_DUP_K as K

    return f"""
    WITH RECURSIVE {_minhash_ctes()},
    pe AS (SELECT doc_a, doc_b FROM prs WHERE jaccard >= {JACCARD_MIN}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pe
        UNION ALL
        SELECT doc_b, doc_a FROM pe
    ),
    reach(node, x) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    comp AS (SELECT node, min(x) AS comp FROM reach GROUP BY node),
    d AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    hh AS (
        SELECT count(*) AS n_docs,
               count(DISTINCT sha256(text)) AS g_exact,
               count(DISTINCT sha256({_NORM_TEXT})) AS g_norm,
               count(DISTINCT sha256(array_to_string(list_sort(list_distinct({toks('text')})), ' '))) AS g_bag
        FROM d
    ),
    nr AS (SELECT count(*) - count(DISTINCT comp) AS n_removed_near FROM comp),
    b2 AS (SELECT doc_id, {toks('text')} AS tk FROM d),
    b3 AS (SELECT doc_id, tk, len(tk) AS n FROM b2),
    gg AS (
        SELECT doc_id, i, array_to_string(tk[i:i+{K - 1}], ' ') AS gram
        FROM b3, LATERAL (
            SELECT unnest(generate_series(1, n - {K} + 1)) AS i
        ) s
        WHERE n >= {K}
    ),
    dd AS (SELECT gram FROM gg GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    ff AS (
        SELECT g.doc_id, g.i,
               lead(g.i) OVER (PARTITION BY g.doc_id ORDER BY g.i) AS nx
        FROM gg g JOIN dd USING (gram)
    ),
    sp AS (
        SELECT (SELECT sum(n) FROM b3) AS tot,
               coalesce(sum(least({K}, coalesce(nx - i, {K}))), 0) AS rem
        FROM ff
    )
    SELECT stage, unit,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(n_docs - n_groups AS BIGINT) AS n_removed
    FROM (
        SELECT '1_exact' AS stage, 'docs' AS unit, n_docs, g_exact AS n_groups FROM hh
        UNION ALL
        SELECT '2_normalized', 'docs', n_docs, g_norm FROM hh
        UNION ALL
        SELECT '3_token_bag', 'docs', n_docs, g_bag FROM hh
        UNION ALL
        SELECT '4_near_dup', 'docs', n_docs, n_docs - nr.n_removed_near FROM hh, nr
        UNION ALL
        SELECT '5_span_tokens', 'tokens', tot, tot - rem FROM sp
    )
    ORDER BY stage
"""


DEDUP_FUNNEL_SQL = _dedup_funnel_sql()


# --------------------------------------------------------------------------
# Round 12: Gopher repetition filters, full-pipeline manifest,
# streaming manifest delta
# --------------------------------------------------------------------------

def _gopher_repetition_sql() -> str:
    """Twin of the Gopher repetition family: unit duplication over
    newline/blank-line splits (string_split with literal separators ≡
    Spark's split on the same patterns), top-n-gram char mass fused
    across n by a zipped unnest, and the duplicated-5-gram coverage via
    the same LEAD gaps-and-islands trick as the crossdoc twin. Gram/unit
    grouping is on the raw strings (Spark groups xxhash64 of them — the
    proven engine-tolerance of the crossdoc chain)."""
    from aws_saas_etl_spark.operators.textops import GOPHER_DUP_N, GOPHER_TOP_NS

    k = GOPHER_DUP_N
    ns = ", ".join(str(n) for n in GOPHER_TOP_NS)
    top_cols = ",\n           ".join(
        f"{dround_sql(f'coalesce(CAST(mass_{n} AS DOUBLE) / nullif(total_chars, 0), 0.0)', 6)}"
        f" AS top_{n}gram_char_frac"
        for n in GOPHER_TOP_NS
    )
    mass_pivot = ",\n               ".join(
        f"max(CASE WHEN ng = {n} THEN top_mass END) AS mass_{n}"
        for n in GOPHER_TOP_NS
    )
    return f"""
    WITH d AS (
        SELECT doc_id, text, {toks('text')} AS tk
        FROM documents WHERE {DOC_DROPNA}
    ),
    ids AS (
        SELECT doc_id, len(tk) AS n_tok,
               length(array_to_string(tk, ' ')) AS total_chars
        FROM d
    ),
    un AS (
        SELECT doc_id, 'line' AS u,
               unnest(list_filter(string_split(text, chr(10)), s -> s <> '')) AS s
        FROM d
        UNION ALL
        SELECT doc_id, 'para',
               unnest(list_filter(string_split(text, chr(10) || chr(10)),
                                  s -> s <> ''))
        FROM d
    ),
    ucnt AS (
        SELECT doc_id, u, s, length(s) AS ln, count(*) AS cnt
        FROM un GROUP BY doc_id, u, s
    ),
    ustats AS (
        SELECT doc_id, u,
               sum(cnt) AS n_units,
               sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_units,
               sum(cnt * ln) AS chars_all,
               sum(CASE WHEN cnt > 1 THEN cnt * ln ELSE 0 END) AS chars_dup
        FROM ucnt GROUP BY doc_id, u
    ),
    upvt AS (
        SELECT doc_id,
               max(CASE WHEN u = 'line' THEN n_units END) AS n_lines,
               max(CASE WHEN u = 'line' THEN dup_units END) AS dup_lines,
               max(CASE WHEN u = 'line' THEN chars_all END) AS line_chars,
               max(CASE WHEN u = 'line' THEN chars_dup END) AS dup_line_chars,
               max(CASE WHEN u = 'para' THEN n_units END) AS n_paras,
               max(CASE WHEN u = 'para' THEN dup_units END) AS dup_paras,
               max(CASE WHEN u = 'para' THEN chars_all END) AS para_chars,
               max(CASE WHEN u = 'para' THEN chars_dup END) AS dup_para_chars
        FROM ustats GROUP BY doc_id
    ),
    gr AS (
        SELECT doc_id, tk, unnest([{ns}]) AS ng FROM d
    ),
    grams AS (
        SELECT doc_id, ng,
               unnest(list_transform(
                   generate_series(1, greatest(len(tk) - ng + 1, 0)),
                   i -> array_to_string(tk[i:i+ng-1], ' '))) AS g
        FROM gr
    ),
    top AS (
        -- paper's statistic: mass of the MOST FREQUENT gram (struct-max:
        -- count first, mass as tie-break — same ordering as Spark's
        -- struct max over (cnt, mass))
        SELECT doc_id, ng,
               (max(struct_pack(cnt := cnt, mass := cnt * length(g)))).mass
                   AS top_mass
        FROM (SELECT doc_id, ng, g, count(*) AS cnt
              FROM grams GROUP BY doc_id, ng, g)
        GROUP BY doc_id, ng
    ),
    tpvt AS (
        SELECT doc_id,
               {mass_pivot}
        FROM top GROUP BY doc_id
    ),
    g5 AS (
        SELECT doc_id,
               unnest(generate_series(1, greatest(len(tk) - {k - 1}, 0))) AS i,
               unnest(list_transform(
                   generate_series(1, greatest(len(tk) - {k - 1}, 0)),
                   i -> array_to_string(tk[i:i+{k - 1}], ' '))) AS g
        FROM d
    ),
    d5 AS (
        SELECT doc_id, g FROM g5 GROUP BY doc_id, g HAVING count(*) > 1
    ),
    cov AS (
        SELECT doc_id,
               least({k}, coalesce(
                   lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i, {k})) AS cv
        FROM g5 JOIN d5 USING (doc_id, g)
    ),
    c5 AS (SELECT doc_id, sum(cv) AS dup5_tokens FROM cov GROUP BY doc_id)
    SELECT ids.doc_id,
           CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
           {dround_sql("coalesce(CAST(dup_lines AS DOUBLE) / nullif(n_lines, 0), 0.0)", 6)} AS dup_line_frac,
           {dround_sql("coalesce(CAST(dup_line_chars AS DOUBLE) / nullif(line_chars, 0), 0.0)", 6)} AS dup_line_char_frac,
           CAST(coalesce(n_paras, 0) AS BIGINT) AS n_paras,
           {dround_sql("coalesce(CAST(dup_paras AS DOUBLE) / nullif(n_paras, 0), 0.0)", 6)} AS dup_para_frac,
           {dround_sql("coalesce(CAST(dup_para_chars AS DOUBLE) / nullif(para_chars, 0), 0.0)", 6)} AS dup_para_char_frac,
           {top_cols},
           {dround_sql("coalesce(CAST(dup5_tokens AS DOUBLE) / nullif(n_tok, 0), 0.0)", 6)} AS dup_5gram_token_frac
    FROM ids
    LEFT JOIN upvt USING (doc_id)
    LEFT JOIN tpvt USING (doc_id)
    LEFT JOIN c5 USING (doc_id)
    ORDER BY ids.doc_id
"""


DOC_GOPHER_REPETITION_SQL = _gopher_repetition_sql()


def _full_pipeline_manifest_sql() -> str:
    """Twin of the FULL production manifest: the full-manifest twin, the
    two shared removal-set subqueries (decontamination, quality), and
    the span-removal twin composed exactly as the Spark side composes
    them — both removal sets anti-joined, emptied docs dropped, and
    positions closing ranks ONCE over the stored pos."""
    return f"""
    WITH man AS ({TRAINING_MANIFEST_SQL}),
    contam AS {_contam_ids_subquery()},
    rmq AS {_quality_rm_subquery()},
    sr AS ({DUPLICATE_SPAN_REMOVAL_SQL})
    SELECT m.doc_id, m.split, m.shard,
           row_number() OVER (PARTITION BY m.split, m.shard ORDER BY m.pos)
               AS pos,
           m.n_tokens, sr.kept_tokens, sr.removed_tokens
    FROM man m
    LEFT JOIN contam c ON m.doc_id = c.doc_id
    LEFT JOIN rmq q ON m.doc_id = q.doc_id
    JOIN sr ON m.doc_id = sr.doc_id
    WHERE c.doc_id IS NULL AND q.doc_id IS NULL AND sr.kept_tokens > 0
    ORDER BY m.split, m.shard, pos
"""


FULL_PIPELINE_MANIFEST_SQL = _full_pipeline_manifest_sql()


def _gatesetv2_manifest_sql() -> str:  # defined here, INSTANTIATED after
    # DOC_REPETITION_FILTER_SQL exists (it interpolates that constant)
    """Twin of GATE SET v2: the full-pipeline twin with ONE more removal
    subquery — train-split docs failing the Gopher repetition gate (the
    repetition-filter twin reused verbatim as a derived table, exactly
    the differential construction the solo gates share). v1's twin is
    untouched."""
    return f"""
    WITH man AS ({TRAINING_MANIFEST_SQL}),
    contam AS {_contam_ids_subquery()},
    rmq AS {_quality_rm_subquery()},
    repf AS (
        SELECT r.doc_id
        FROM ({DOC_REPETITION_FILTER_SQL}) r
        JOIN man mt ON r.doc_id = mt.doc_id AND mt.split = 'train'
        WHERE r.verdict <> 'keep'
    ),
    sr AS ({DUPLICATE_SPAN_REMOVAL_SQL})
    SELECT m.doc_id, m.split, m.shard,
           row_number() OVER (PARTITION BY m.split, m.shard ORDER BY m.pos)
               AS pos,
           m.n_tokens, sr.kept_tokens, sr.removed_tokens
    FROM man m
    LEFT JOIN contam c ON m.doc_id = c.doc_id
    LEFT JOIN rmq q ON m.doc_id = q.doc_id
    LEFT JOIN repf rf ON m.doc_id = rf.doc_id
    JOIN sr ON m.doc_id = sr.doc_id
    WHERE c.doc_id IS NULL AND q.doc_id IS NULL AND rf.doc_id IS NULL
      AND sr.kept_tokens > 0
    ORDER BY m.split, m.shard, pos
"""


def _stream_manifest_delta_sql() -> str:
    """Twin of the streaming manifest-delta ingest: the same
    shingle-percentile base/delta cut as the incremental twin
    (``quantile_cont`` ≡ Spark ``percentile`` over ALL document rows —
    the shingle table is one row per doc), per-row heuristic gates
    verbatim from the filter-pipeline twin, the exact-dup check as a
    NOT-IN against the base slice's sha set (keeper index), and the
    manifest's split/shard doc_id functions — reduced to the
    per-(split, shard) exact BIGINT audit."""
    from aws_saas_etl_spark.operators.curation import (
        SHUFFLE_SALT,
        SHUFFLE_SHARDS,
    )
    from aws_saas_etl_spark.operators.dedup import DELTA_DOC_FRACTION
    from aws_saas_etl_spark.operators.sampling import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
    )
    from aws_saas_etl_spark.operators.textops import (
        FILTER_MIN_QUALITY,
        FILTER_MIN_TOKENS,
    )

    score_cols = ",\n           ".join(
        f"{lexicon_count('tk', stops)} AS s_{lang}"
        for lang, stops in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    greatest_all = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    quality = (
        "(0.4 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) "
        "+ 0.3 * (CASE WHEN length(text) > 0 "
        "THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / CAST(length(text) AS DOUBLE) "
        "ELSE 0.0 END) "
        "+ 0.3 * (CASE WHEN len(tk) > 0 "
        "THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) ELSE 0.0 END))"
    )
    b = _hash_bucket_sql("doc_id")
    return f"""
    WITH cut AS (
        SELECT quantile_cont(doc_id, {1.0 - DELTA_DOC_FRACTION}) AS c
        FROM documents
    ),
    delta AS (
        SELECT doc_id, text, {toks('text')} AS tk
        FROM documents, cut
        WHERE {DOC_DROPNA} AND doc_id > cut.c
    ),
    base_sha AS (
        SELECT DISTINCT sha256(text) AS sha
        FROM documents, cut
        WHERE {DOC_DROPNA} AND doc_id <= cut.c
    ),
    s AS (SELECT *, {score_cols} FROM delta),
    kept AS (
        SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens
        FROM s
        WHERE sha256(text) NOT IN (SELECT sha FROM base_sha)
          AND len(tk) >= {FILTER_MIN_TOKENS}
          AND {greatest_all} > 0 AND {quality} >= {FILTER_MIN_QUALITY}
    ),
    lab AS (
        SELECT doc_id, n_tokens,
               CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {b} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split,
               CAST(('0x' || substr(
                   md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8
               ))::BIGINT % {SHUFFLE_SHARDS} AS INT) AS shard
        FROM kept
    )
    SELECT split, shard,
           count(*) AS n_new_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(sum(n_tokens) AS BIGINT) AS sum_n_tokens
    FROM lab
    GROUP BY split, shard
    ORDER BY split, shard
"""


STREAM_MANIFEST_DELTA_SQL = _stream_manifest_delta_sql()


def _repetition_filter_sql() -> str:
    """Twin of the Gopher repetition gate: the repetition-family twin
    reduced to a first-failing-gate CASE at the published thresholds
    (both engines compare the same 6dp-rounded fractions)."""
    from aws_saas_etl_spark.operators.textops import GOPHER_THRESHOLDS

    cases = "\n             ".join(
        f"WHEN {col} > {thr} THEN '{col}'" for col, thr in GOPHER_THRESHOLDS
    )
    return f"""
    WITH rep AS ({DOC_GOPHER_REPETITION_SQL})
    SELECT doc_id,
           CASE {cases}
             ELSE 'keep'
           END AS verdict
    FROM rep
    ORDER BY doc_id
"""


DOC_REPETITION_FILTER_SQL = _repetition_filter_sql()

GATESETV2_MANIFEST_SQL = _gatesetv2_manifest_sql()


def _gateset_version_diff_sql() -> str:
    """Twin of the gate-set migration report: the full-pipeline twin's
    rows attributed by the repetition-filter twin's verdict (kept for
    non-train rows and passing train rows, else the first failing
    rung), aggregated per (split, shard, fate)."""
    return f"""
    WITH v1 AS ({FULL_PIPELINE_MANIFEST_SQL}),
    rep AS ({DOC_REPETITION_FILTER_SQL})
    SELECT v1.split, v1.shard,
           CASE WHEN v1.split <> 'train' OR rep.verdict = 'keep'
                THEN 'kept' ELSE rep.verdict END AS fate,
           count(*) AS n_docs,
           CAST(sum(v1.kept_tokens) AS BIGINT) AS sum_kept_tokens
    FROM v1 JOIN rep ON v1.doc_id = rep.doc_id
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""


GATESET_VERSION_DIFF_SQL = _gateset_version_diff_sql()
