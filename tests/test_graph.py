"""Connected components + cluster dedup: planted-graph ground truth.

The CC solver is the glue between pairwise near-dup detection and
actual corpus pruning (a doc matching A on one key and B on another
must land in ONE cluster).  Tests plant chains that only transitive
closure can collapse.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rc_scanner_spark.operators.graph import (
    connected_components,
    star_edges_for_key,
)


def _cc_map(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
    out = connected_components(edges, **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_cc_chain_collapses_to_min(spark):
    got = _cc_map(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_direction_irrelevant(spark):
    # edges arrive in arbitrary orientation; symmetrization handles it
    got = _cc_map(spark, [(5, 2), (2, 9), (9, 1)])
    assert got == {1: 1, 2: 1, 5: 1, 9: 1}


def test_cc_two_stars_bridged(spark):
    # two key groups (stars on 1 and 6) bridged by a shared member
    star_a = [(2, 1), (3, 1), (4, 1)]
    star_b = [(7, 6), (8, 6), (4, 6)]  # 4 is in both groups
    got = _cc_map(spark, star_a + star_b)
    assert set(got.values()) == {1}


def test_star_edges_linear_and_capped(spark):
    rows = [(i, "hot") for i in range(1, 12)] + [(20, "k"), (21, "k")]
    df = spark.createDataFrame(rows, "doc_id bigint, key string")
    edges = star_edges_for_key(df, "doc_id", "key", max_group=10)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    # 'hot' group (11 members) exceeds the cap -> dropped entirely;
    # 'k' group emits one star edge, not a clique
    assert got == {(21, 20)}


def test_cc_clusters_chain_via_two_keys(spark, tmp_path):
    """Doc chaining: A~B share the first 4 words, B~C share the last 4
    — only transitive closure puts all three in one cluster."""
    rows = [
        (1, "alpha beta gamma delta common tail one two", "en", "src0", 40),
        (2, "alpha beta gamma delta other middle words here", "en", "src0", 40),
        (3, "totally different head words here other middle words here", "en", "src0", 40),
        (4, "lone document with no shared fingerprint keys at all", "en", "src0", 40),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    from rc_scanner_spark.queries.llm import q_dedup_cc_clusters

    out = {
        r["doc_id"]: (r["component"], r["cluster_size"], r["is_canonical"])
        for r in q_dedup_cc_clusters(spark, sf).collect()
    }
    # doc2 shares head with doc1 and tail with doc3 -> one cluster {1,2,3}
    assert out[1] == (1, 3, True)
    assert out[2] == (1, 3, False)
    assert out[3] == (1, 3, False)
    assert out[4] == (4, 1, True)


def test_cc_no_cached_plans_left(spark):
    """localCheckpoint frames are unpersisted-on-GC; assert the solver
    leaves nothing in Spark's cache manager, the one record of
    persisted query state."""
    # Reset first: OTHER operators legitimately persist frames (e.g.
    # the shared co-purchase edge frame) — a prior test in the same
    # session must not fail this one (order-independence).
    from rc_scanner_spark.operators.dedup import release_caches

    cache = spark._jsparkSession.sharedState().cacheManager()
    release_caches()
    assert cache.isEmpty()
    _cc_map(spark, [(1, 2), (2, 3)])
    assert cache.isEmpty()


def test_cc_restores_session_confs(spark):
    """The solver must leave the shared session's confs as it found
    them — on success AND on failure (the driver's session outlives
    every query; a leaked conf would silently deoptimize everything
    after the first CC query).  It sets none."""
    import pytest

    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "23")
    _cc_map(spark, [(1, 2), (2, 3)])
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "23"
    # failure path: non-convergence raises INSIDE the scope
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_map(spark, [(1, 2), (2, 3), (3, 4)], max_iters=1)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "23"
    spark.conf.set("spark.sql.shuffle.partitions", prior_parts)
