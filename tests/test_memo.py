"""memo.MemoDict: self-registration, tracing, and the clear_all reset —
the mechanism bench.py derives its cold/warm set from and
clear_session_memos purges (VERDICT r7 #4)."""

from __future__ import annotations

from aws_saas_etl_spark import memo


def test_memo_registry_and_tracing():
    m = memo.MemoDict("t_demo")
    assert m in memo.all_memos()
    # outside a track() window nothing records and nothing breaks
    m["a"] = 1
    assert m.get("a") == 1

    with memo.track() as touched:
        assert touched == []
        _ = m.get("missing")          # a READ traces too (warm consumers)
    assert touched == ["t_demo"]

    with memo.track() as touched2:
        m["b"] = 2
    assert touched2 == ["t_demo"]
    # nesting restores the outer trace
    with memo.track() as outer:
        with memo.track() as inner:
            m.get("b")
        assert inner == ["t_demo"]
        m.get("a")
    assert outer == ["t_demo"]


def test_clear_all_purges_every_registered_memo():
    ms = [memo.MemoDict(f"t_clear_{i}") for i in range(3)]
    for i, m in enumerate(ms):
        m[i] = i
    memo.clear_all()
    assert all(len(m) == 0 for m in ms)


def test_operator_caches_are_registered():
    """Every stored-artifact cache in the operator modules must be a
    registered MemoDict — a plain dict would silently escape the
    cold-path reset and the bench derivation."""
    from aws_saas_etl_spark.operators import curation, dedup, similarity

    names = {m.name for m in memo.all_memos()}
    for expected in (
        "shingle", "clusters", "base_labels", "ivf_centroids",
        "manifest", "pq_codebook",
    ):
        assert expected in names, expected


def test_untraced_memo_clears_but_does_not_trace():
    """traced=False memos (r13: sizing scalars — table row counts,
    append cuts) must be cleared by clear_all (cold reps re-pay the
    derivation) yet stay invisible to track() (they are catalog
    metadata, not a two-regime stored artifact the bench cold/warm
    table needs rows for)."""
    m = memo.MemoDict("t_untraced", traced=False)
    with memo.track() as touched:
        m["k"] = 1
        assert m.get("k") == 1
    assert touched == []
    memo.clear_all()
    assert len(m) == 0


def test_untraced_touches_land_in_sizing_trace():
    """r14 (VERDICT r13 #6): untraced memos stay OUT of the main trace
    (cold/warm membership unchanged) but their touches surface under
    ``touched.sizing`` so bench.py can report which queries read a
    sizing cache (the ``sizing_cache_touched`` bench key)."""
    m = memo.MemoDict("t_sizing_trace", traced=False)
    t = memo.MemoDict("t_traced_trace")
    with memo.track() as touched:
        m["k"] = 1
        _ = m.get("k")
        t["a"] = 2
    assert touched == ["t_traced_trace"]
    assert touched.sizing == ["t_sizing_trace", "t_sizing_trace"]
    # nesting restores the outer sizing trace too
    with memo.track() as outer:
        with memo.track() as inner:
            m.get("k")
        assert inner.sizing == ["t_sizing_trace"]
        assert outer.sizing == []
        m.get("k")
    assert outer.sizing == ["t_sizing_trace"]


def test_sizing_caches_are_registered_untraced():
    """The r13 sizing caches must be registered (cold-path reset) and
    untraced (no bench cold/warm membership change)."""
    from aws_saas_etl_spark import catalog  # noqa: F401
    from aws_saas_etl_spark.operators import similarity  # noqa: F401

    by_name = {m.name: m for m in memo.all_memos()}
    for expected in ("table_row_counts", "derived_cut", "table_schemas"):
        assert expected in by_name, expected
        assert by_name[expected].traced is False, expected


def test_rank_cut_matches_reference_and_builds_once(spark, tmp_path):
    """``rank_cut`` is the largest of the ``n − n//denom`` smallest
    DISTINCT ids (duplicates count once, gaps do not matter), and a
    repeated call under one name is served from the memo: no job."""
    from tests.test_catalog import _jobs_launched

    ids = [i * i % 97 for i in range(60)]  # duplicates and gaps
    frame = spark.createDataFrame([(i,) for i in ids], "doc_id BIGINT")
    distinct = sorted(set(ids))
    n = len(distinct)
    for denom in (2, 10):

        def cut():
            return memo.rank_cut(spark, str(tmp_path), f"t_cut_{denom}", frame, denom)

        assert _jobs_launched(spark, cut) > 0
        assert _jobs_launched(spark, cut) == 0
        assert cut() == distinct[n - n // denom - 1]


def test_each_rank_cut_name_is_derived_at_one_site():
    """``rank_cut``'s memo key holds the cut's name, not its ids frame,
    so each name passed to ``rank_cut`` in the engine appears at exactly
    one call site: two sites could derive one name from two id sets, and
    whichever ran first would decide the cut for both."""
    import ast
    import glob
    import os
    from collections import Counter

    import aws_saas_etl_spark

    root = os.path.dirname(aws_saas_etl_spark.__file__)
    sites = Counter()
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        for call in ast.walk(ast.parse(open(path).read(), path)):
            if not (
                isinstance(call, ast.Call)
                and getattr(call.func, "id", getattr(call.func, "attr", None))
                == "rank_cut"
            ):
                continue
            name = call.args[2] if len(call.args) > 2 else None
            where = f"{os.path.basename(path)}:{call.lineno}"
            assert isinstance(name, ast.Constant) and isinstance(name.value, str), where
            sites[name.value] += 1
    assert len(sites) >= 6
    assert {k: n for k, n in sites.items() if n > 1} == {}


def _stub_spark(app_id: str):
    """Just enough of a SparkSession for ``get_or_build``'s key."""
    from types import SimpleNamespace

    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_get_or_build_normalizes_path_spellings(tmp_path, monkeypatch):
    """``d``, ``d/`` and a relative spelling of ``d`` are one key: the
    artifact is built once, not once per spelling."""
    d = tmp_path / "sf"
    d.mkdir()
    monkeypatch.chdir(tmp_path)
    m = memo.MemoDict("t_spelling")
    spark = _stub_spark("app-spelling")
    calls = []

    def build():
        calls.append(1)
        return "artifact"

    for spelling in (str(d), str(d) + "/", "sf", "./sf/"):
        assert m.get_or_build(spark, spelling, "base", build=build) == "artifact"
    assert len(calls) == 1
    assert list(m) == [("app-spelling", str(d), "base")]
    # another application id, or another part, is another artifact
    m.get_or_build(_stub_spark("app-other"), str(d), "base", build=build)
    m.get_or_build(spark, str(d), build=build)
    assert len(calls) == 3


def test_get_or_build_caches_none_and_traces_the_hit():
    """A build that returns None runs once: the miss test is a sentinel,
    not ``is None``. Each call makes one traced ``get``; only the miss
    adds a ``set`` — the contract a tracer patching get/set relies on."""
    m = memo.MemoDict("t_none")
    spark = _stub_spark("app-none")
    calls = []

    def build():
        calls.append(1)
        return None

    with memo.track() as cold:
        assert m.get_or_build(spark, "/sf", build=build) is None
    with memo.track() as warm:
        assert m.get_or_build(spark, "/sf", build=build) is None
    assert len(calls) == 1
    assert cold == ["t_none", "t_none"]  # one get (miss) + one set
    assert warm == ["t_none"]  # one get (hit), no set


def test_assignment_and_codes_are_keyed_by_their_fit(monkeypatch):
    """The IVF assignment and the PQ code table are stored under the key
    of the fit they were encoded against: the fresh and the stale
    ("base") fits each get their own assignment/codes, and a warm call
    serves each with its own fit — never one fit's codes beside another's."""
    from aws_saas_etl_spark.operators import similarity as S

    class Frame:
        """Stands in for a DataFrame; ``tag`` records its lineage."""

        def __init__(self, tag):
            self.tag = tag

        def select(self, *cols):
            return self

        def localCheckpoint(self):
            return self

    monkeypatch.setattr(S, "_ivf_geometry", lambda spark, sf_dir, stale=False: (4, 2))
    monkeypatch.setattr(
        S, "_fit_rows", lambda spark, sf_dir, emb, stale: Frame("base") if stale else emb
    )
    monkeypatch.setattr(S, "ivf_fit_cells", lambda emb, n: Frame(("ivf", emb.tag, n)))
    monkeypatch.setattr(S, "_assign_cells", lambda emb, c: Frame(("cells", emb.tag, c.tag)))
    monkeypatch.setattr(S, "pq_fit_codebooks", lambda emb: Frame(("pq", emb.tag)))
    monkeypatch.setattr(S, "_pq_subvectors", lambda emb: emb)
    monkeypatch.setattr(S, "_pq_argmin", lambda subs, cb: Frame(("codes", subs.tag, cb.tag)))
    app = "app-fit-keys"
    spark = _stub_spark(app)
    emb = Frame("emb")
    caches = (S._IVF_CACHE, S._ASSIGN_CACHE, S._PQ_CACHE, S._PQ_CODES_CACHE)
    try:
        for _ in range(2):  # cold, then warm
            fresh = S._ivf_index_cached(spark, "/sf", emb)
            stale = S._ivf_index_cached(spark, "/sf/", emb, stale=True)
            assert fresh[0].tag == ("ivf", "emb", 4)
            assert fresh[1].tag == ("cells", "emb", fresh[0].tag)
            assert stale[0].tag == ("ivf", "base", 4)
            assert stale[1].tag == ("cells", "emb", stale[0].tag)
            cb, codes = S._pq_index_cached(spark, "/sf", emb)
            scb, scodes = S._pq_index_cached(spark, "/sf/../sf", emb, stale=True)
            assert codes.tag == ("codes", "emb", cb.tag) == ("codes", "emb", ("pq", "emb"))
            assert scodes.tag == ("codes", "emb", scb.tag) == ("codes", "emb", ("pq", "base"))

        def keys(cache):
            return {k for k in cache if k[0] == app}

        assert keys(S._ASSIGN_CACHE) == keys(S._IVF_CACHE)
        assert len(keys(S._IVF_CACHE)) == 2
        assert keys(S._PQ_CODES_CACHE) == keys(S._PQ_CACHE)
        assert len(keys(S._PQ_CACHE)) == 2
    finally:
        for cache in caches:
            for k in [k for k in cache if k[0] == app]:
                del cache[k]


def test_get_or_build_materializes_a_stored_frame_once(spark, tmp_path):
    """A build that returns a lazy DataFrame is materialized on the miss:
    the miss launches the job, and the stored frame reads checkpointed
    rows instead of the build's lineage. A warm call launches no job and
    returns the same object."""
    from tests.test_catalog import _jobs_launched

    m = memo.MemoDict("t_materialize")
    lazy = spark.range(60).selectExpr("id", "id * id AS sq").where("id % 3 = 0")
    got = []

    def call():
        got.append(m.get_or_build(spark, str(tmp_path), build=lambda: lazy))

    def plan(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    assert _jobs_launched(spark, call) > 0
    stored = got[0]
    assert "Range" in plan(lazy)
    assert "Range" not in plan(stored)
    assert _jobs_launched(spark, call) == 0
    assert got[1] is stored
    assert sorted(stored.collect()) == sorted(lazy.collect())
    m.clear()
