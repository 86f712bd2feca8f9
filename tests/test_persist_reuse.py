"""Query-scoped persisted intermediates must not accumulate: repeated
invocations of the persisting queries reuse the keyed cached relation, so
executor storage stays bounded in a long-lived session (ADVICE round 3)."""

from rust_s2_spark.engine import queries as Q

SF = "/root/testdata/sf0.001"


def _persisted_ids(spark):
    """Ids of the JVM's persisted RDDs.  Compared as sets, never as counts:
    ContextCleaner may free RDDs left by earlier tests at any moment, which
    shrinks the count without saying anything about the queries here."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_repeat_invocations_do_not_stack_persists(spark):
    Q.q_ngram_jaccard(spark, SF).count()
    Q.q_minhash_lsh(spark, SF).count()
    base_aux = len(Q._AUX_CACHE)
    base_rdds = _persisted_ids(spark)
    for _ in range(3):
        Q.q_ngram_jaccard(spark, SF).count()
        Q.q_minhash_lsh(spark, SF).count()
    assert len(Q._AUX_CACHE) == base_aux
    assert _persisted_ids(spark) - base_rdds == set()

    r1 = Q.q_knn_cellring(spark, SF)
    base_rdds = _persisted_ids(spark)
    r2 = Q.q_knn_cellring(spark, SF)
    assert r2 is r1  # memoized result, no re-search
    assert _persisted_ids(spark) - base_rdds == set()

    # the fixpoint memos (checkpointed label leaves and persisted results)
    before_fixpoint = _persisted_ids(spark)
    Q.q_spatial_cluster(spark, SF).count()
    Q.q_dbscan(spark, SF).count()
    Q.q_cluster_stats(spark, SF).count()
    Q.q_dedup_cluster(spark, SF).count()
    fixpoint_ids = _persisted_ids(spark) - before_fixpoint
    assert fixpoint_ids  # they do hold blocks until the clear

    # and the reclamation hook still releases everything it tracked,
    # including the session broadcasts (data-derived payloads like the IVF
    # centroids must be rebuilt from a possibly-rewritten source after a
    # clear, not served stale) and every block the fixpoint memos created
    from rust_s2_spark.engine import polyjoin as pj

    Q.clear_geo_cache()
    assert len(Q._AUX_CACHE) == 0 and len(Q._KNN_RESULT_CACHE) == 0
    assert len(pj._BC_CACHE) == 0
    assert fixpoint_ids & _persisted_ids(spark) == set()


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
    from rust_s2_spark.engine import polyjoin as pj

    Q.q_pip_join(spark, SF).count()
    Q.q_poly_nested_join(spark, SF).count()
    Q.q_coastline_join(spark, SF).count()
    base = len(pj._BC_CACHE)
    for _ in range(2):
        Q.q_pip_join(spark, SF).count()
        Q.q_poly_nested_join(spark, SF).count()
        Q.q_coastline_join(spark, SF).count()
    # warm re-runs ship nothing new: the broadcast memo is stable
    assert len(pj._BC_CACHE) == base
