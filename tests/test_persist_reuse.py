"""Query-scoped persisted intermediates must not accumulate: repeated
invocations of the persisting queries reuse the keyed cached relation, so
executor storage stays bounded in a long-lived session (ADVICE round 3).
Every such relation lives in the one session memo (engine/memo.py), and
clearing it frees every block the queries created."""

from types import SimpleNamespace

from rust_s2_spark.engine import memo
from rust_s2_spark.engine import queries as Q

SF = "/root/testdata/sf0.001"


def _persisted_ids(spark):
    """Ids of the JVM's persisted RDDs.  Compared as sets, never as counts:
    ContextCleaner may free RDDs left by earlier tests at any moment, which
    shrinks the count without saying anything about the queries here."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_repeat_invocations_do_not_stack_persists(spark):
    Q.clear_geo_cache()
    before_all = _persisted_ids(spark)

    repeated = (Q.q_ngram_jaccard, Q.q_minhash_lsh, Q.q_cell_compact)
    for q in repeated:
        q(spark, SF).count()
    base_entries = set(memo._SESSION_CACHE)
    base_rdds = _persisted_ids(spark)
    for _ in range(3):
        for q in repeated:
            q(spark, SF).count()
    assert set(memo._SESSION_CACHE) == base_entries
    assert _persisted_ids(spark) - base_rdds == set()

    r1 = Q.q_knn_cellring(spark, SF)
    base_entries = set(memo._SESSION_CACHE)
    base_rdds = _persisted_ids(spark)
    r2 = Q.q_knn_cellring(spark, SF)
    assert r2 is r1  # memoized result, no re-search
    assert set(memo._SESSION_CACHE) == base_entries
    assert _persisted_ids(spark) - base_rdds == set()

    # the fixpoint memos (checkpointed label leaves and persisted results)
    # and the other queries that persist or checkpoint through the memo
    before_fixpoint = _persisted_ids(spark)
    Q.q_spatial_cluster(spark, SF).count()
    Q.q_dbscan(spark, SF).count()
    Q.q_cluster_stats(spark, SF).count()
    Q.q_dedup_cluster(spark, SF).count()
    assert _persisted_ids(spark) - before_fixpoint  # they hold blocks until the clear
    Q.q_embed_dedup(spark, SF).count()
    Q.q_s2_vectorize_dist(spark, SF).count()
    created = _persisted_ids(spark) - before_all
    assert created

    # the clear empties the one store and releases every block the queries
    # created, including the session broadcasts (data-derived payloads like
    # the IVF centroids must be rebuilt from a possibly-rewritten source
    # after a clear, not served stale)
    Q.clear_geo_cache()
    assert memo._SESSION_CACHE == {}
    assert created & _persisted_ids(spark) == set()


def test_memo_builds_once_per_tag_and_drops_other_applications(monkeypatch):
    """No Spark: a stub session carrying only an applicationId."""
    monkeypatch.setattr(memo, "_SESSION_CACHE", {})
    freed = []
    monkeypatch.setattr(memo, "_free", freed.append)

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    builds = []

    def build(value):
        return lambda: builds.append(value) or value

    a = session("app-a")
    assert memo.get(a, ("sf", "t1"), build("a1")) == "a1"
    assert memo.get(a, ("sf", "t1"), build("a1-again")) == "a1"
    assert memo.get(a, ("sf", "t2"), build("a2")) == "a2"
    assert builds == ["a1", "a2"]  # once per tag

    # a miss under another application drops app-a's entries, unreleased
    b = session("app-b")
    assert memo.get(b, ("sf", "t1"), build("b1")) == "b1"
    assert builds == ["a1", "a2", "b1"]
    assert set(memo._SESSION_CACHE) == {("app-b", ("sf", "t1"))}
    assert freed == []

    memo.clear()
    assert freed == ["b1"]
    assert memo._SESSION_CACHE == {}


def test_session_broadcast_builds_once_per_tag(spark):
    from rust_s2_spark.engine import polyjoin as pj

    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return {"payload": calls["n"]}

    b1 = pj.session_broadcast(spark, ("test_tag", "a"), make)
    b2 = pj.session_broadcast(spark, ("test_tag", "a"), make)
    b3 = pj.session_broadcast(spark, ("test_tag", "b"), make)
    assert b1 is b2  # same tag -> same Broadcast object, make() not re-run
    assert calls["n"] == 2  # once per distinct tag
    assert b3 is not b1
    assert pj.broadcast_memo_key(spark, b1) == pj.broadcast_memo_key(spark, b2)
    assert pj.broadcast_memo_key(spark, b3) != pj.broadcast_memo_key(spark, b1)


def test_tagged_queries_reuse_broadcasts_across_warm_runs(spark):
    Q.q_pip_join(spark, SF).count()
    Q.q_poly_nested_join(spark, SF).count()
    Q.q_coastline_join(spark, SF).count()
    base = set(memo._SESSION_CACHE)
    for _ in range(2):
        Q.q_pip_join(spark, SF).count()
        Q.q_poly_nested_join(spark, SF).count()
        Q.q_coastline_join(spark, SF).count()
    # warm re-runs ship nothing new: the broadcast memo is stable
    assert set(memo._SESSION_CACHE) == base
