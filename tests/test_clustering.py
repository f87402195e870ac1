"""Connected components (large-star/small-star) + dedup clustering."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_skyline_qos_spark.operators.clustering import (
    connected_components, dedup_clusters)


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min id: run find to full compression, then min per root
    roots = {}
    for x in range(n_nodes):
        roots.setdefault(find(x), []).append(x)
    return {x: min(members) for members in roots.values() for x in members}


def test_chain_is_one_component(spark):
    # worst case for label propagation (diameter = n); star-rounds
    # collapse it in O(log^2 n)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(21)}


def test_two_components_and_isolated(spark):
    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in [3, 5, 9, 20, 21, 42]],
                                  "doc_id long")
    got = {r["node"]: r["component"]
           for r in connected_components(
               edges, nodes=nodes, node_col="doc_id").collect()}
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 42: 42}


def test_self_loops_nulls_and_duplicate_edges(spark):
    edges = spark.createDataFrame(
        [(1, 1), (None, 2), (2, None), (1, 2), (2, 1), (1, 2)],
        "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1}


def test_empty_edges_all_singletons(spark):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (2,)], "doc_id long")
    got = {r["node"]: r["component"]
           for r in connected_components(
               edges, nodes=nodes, node_col="doc_id").collect()}
    assert got == {1: 1, 2: 2}


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=0, max_size=25))
def test_matches_union_find(spark, edge_list):
    expect = _union_find(15, [(a, b) for a, b in edge_list if a != b])
    edges = spark.createDataFrame(
        edge_list or [(0, 0)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(15)], "n long")
    got = {r["node"]: r["component"]
           for r in connected_components(
               edges, nodes=nodes, node_col="n").collect()}
    assert got == expect


def test_dedup_clusters_canonical_flag(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(4, 2), (2, 0)], "id_a long, id_b long")
    out = dedup_clusters(docs, pairs).collect()
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in out}
    assert got == {0: (0, True), 1: (1, True), 2: (0, False),
                   3: (3, True), 4: (0, False), 5: (5, True)}
    # keep-canonical = dedup'd corpus: one doc per cluster
    kept = [d for d, (c, k) in got.items() if k]
    assert sorted(kept) == [0, 1, 3, 5]


def test_reliable_checkpoint_variant(spark, tmp_path):
    """checkpoint_dir opts into replicated checkpoint(); same answer.

    ADVICE r3: checkpoint FILES must stay O(|E|), not O(rounds·|E|) —
    rounds alternate two subdirs, deleting the stale one, and the last
    round's files vanish when the result frame is dropped."""
    import gc

    ck = tmp_path / "ck"
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    out = connected_components(edges, checkpoint_dir=str(ck),
                               driver_threshold=0)
    got = {(r["node"], r["component"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    # while the result is alive: only the LAST round's subdir has data
    live = [d for d in ck.iterdir() if any(d.rglob("rdd-*"))]
    assert len(live) <= 1
    del out
    gc.collect()
    remaining = list(ck.rglob("rdd-*"))
    assert remaining == []


# --- link rank -------------------------------------------------------

def test_link_rank_star_graph_hub_wins(spark):
    from flink_skyline_qos_spark.operators.clustering import link_rank
    # spokes 1..5 all point at hub 0; hub points back at spoke 1
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    ranks = {r.node: r.rank for r in link_rank(df).collect()}
    assert ranks[0] == max(ranks.values())       # hub dominates
    assert ranks[1] > ranks[2] == ranks[5]       # hub's target beats others
    assert all(v > 0 for v in ranks.values())


def test_link_rank_deterministic_across_partitioning(spark):
    from flink_skyline_qos_spark.operators.clustering import link_rank
    edges = [(i, (i * 7) % 23) for i in range(200)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    a = sorted(tuple(r) for r in link_rank(df).collect())
    b = sorted(tuple(r) for r in link_rank(df.repartition(13)).collect())
    assert a == b  # bit-for-bit, integer grid


def test_link_rank_matches_oracle(spark, sf_dir):
    import duckdb

    from flink_skyline_qos_spark.operators.clustering import (
        link_rank, link_rank_sql)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1)
    ).select(F.col("a.l_suppkey").alias("src"),
             F.col("b.l_suppkey").alias("dst"))
    got = sorted(tuple(r) for r in link_rank(edges).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    want = sorted(tuple(r) for r in con.sql(link_rank_sql(
        "SELECT a.l_suppkey AS src, b.l_suppkey AS dst "
        "FROM lineitem a JOIN lineitem b "
        "ON a.l_orderkey = b.l_orderkey "
        "AND b.l_linenumber = a.l_linenumber + 1")).fetchall())
    assert got == want and len(got) > 0


def test_link_rank_empty_and_bad_args(spark):
    import pytest as _pt

    from flink_skyline_qos_spark.operators.clustering import link_rank
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert link_rank(empty).count() == 0
    df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    with _pt.raises(ValueError):
        link_rank(df, iterations=0)
    with _pt.raises(ValueError):
        link_rank(df, damping=(100, 100))


def test_connected_components_drops_intermediate_round_blocks(spark):
    """Each CC call may leave ONE pinned RDD (the final-round
    checkpoint) but must eagerly free every intermediate round — the
    session-lifetime leak class localCheckpoint+unpersist() silently
    creates (DataFrame.unpersist never touches RDD-level pins).  The
    final round must outlive `out` for a derived frame, and be freed by
    Spark once neither is reachable."""
    import gc
    import time

    def n_pinned():
        # the context's weak-valued registry, counted in place: a
        # getPersistentRDDs() copy would itself keep the pins reachable
        return spark.sparkContext._jsc.sc().persistentRdds().size()

    # a 64-node path graph needs multiple large/small-star rounds
    edges = spark.createDataFrame([(i, i + 1) for i in range(64)],
                                  "id_a bigint, id_b bigint")
    before = n_pinned()
    out = connected_components(edges, driver_threshold=0)
    assert out.count() == 65
    grown = n_pinned() - before
    assert grown <= 1, f"intermediate rounds leaked ({grown} pins)"
    derived = out.filter(F.col("component") >= 0)
    del out
    gc.collect()
    spark._jvm.System.gc()
    assert derived.count() == 65
    del derived
    deadline = time.time() + 10
    while n_pinned() > before and time.time() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.25)
    assert n_pinned() <= before


def test_connected_components_driver_path_holds_no_pin(spark):
    """The driver arm consumes its canonical edge cache in one collect
    and the returned label table never reads it, so no pin may outlive
    the call — even while the result is alive."""
    import gc

    def n_pinned():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    edges = spark.createDataFrame([(i, i + 1) for i in range(64)],
                                  "id_a bigint, id_b bigint")
    gc.collect()
    before = n_pinned()
    out = connected_components(edges)
    assert out.count() == 65
    assert n_pinned() <= before


def test_link_rank_releases_intermediate_iterations(spark):
    """Only the final ranks frame (plus e/nodes/e_od) may stay pinned
    while the result lives — earlier iterations are consumed the moment
    the next one materializes and must be unpersisted eagerly."""
    from flink_skyline_qos_spark.operators.clustering import link_rank

    def n_pinned():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    import gc
    import time
    gc.collect()
    time.sleep(0.3)
    before = n_pinned()
    edges = spark.createDataFrame([(i, (i * 7) % 23) for i in range(200)],
                                  "src bigint, dst bigint")
    out = link_rank(edges, iterations=5)
    out.count()
    grown = n_pinned() - before
    assert grown <= 4, f"{grown} pins: intermediate iterations leaked"
    del out
    for _ in range(20):
        gc.collect()
        if n_pinned() <= before:
            break
        time.sleep(0.25)
    assert n_pinned() <= before


def test_triangle_count_crafted(spark):
    from flink_skyline_qos_spark.operators.clustering import triangle_count

    # K4 on {1,2,3,4} (4 triangles, 3 per node), a pendant node 5 on 1
    # (0 triangles, degree 1), and an isolated edge 6-7
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges += [(1, 5), (6, 7)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: (r.degree, r.triangles)
           for r in triangle_count(df).collect()}
    assert got[1] == (4, 3)
    assert got[2] == (3, 3) and got[3] == (3, 3) and got[4] == (3, 3)
    assert got[5] == (1, 0)
    assert got[6] == (1, 0) and got[7] == (1, 0)


def test_triangle_count_dedup_selfloops_and_direction(spark):
    from flink_skyline_qos_spark.operators.clustering import triangle_count

    # duplicate/reversed edges and self-loops collapse to one triangle
    rows = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3), (None, 3)]
    df = spark.createDataFrame(rows, "src bigint, dst bigint")
    got = {r.node: (r.degree, r.triangles)
           for r in triangle_count(df).collect()}
    assert got == {1: (2, 1), 2: (2, 1), 3: (2, 1)}


def test_triangle_count_matches_oracle_and_partitioning(spark, sf_dir):
    import duckdb

    from flink_skyline_qos_spark.operators.clustering import (
        triangle_count,
        triangle_count_sql,
    )
    from flink_skyline_qos_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem") \
        .filter(F.col("l_orderkey") % 50 == 0)
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber"))
    ).select(F.col("a.l_suppkey").alias("src"),
             F.col("b.l_suppkey").alias("dst"))
    got = sorted(tuple(r) for r in triangle_count(edges).collect())
    reshuffled = sorted(tuple(r) for r in
                        triangle_count(edges.repartition(7)).collect())
    assert got == reshuffled  # degree orientation is partitioning-blind
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    want = sorted(tuple(r) for r in con.sql(triangle_count_sql(
        "SELECT a.l_suppkey AS src, b.l_suppkey AS dst "
        "FROM lineitem a JOIN lineitem b "
        "ON a.l_orderkey = b.l_orderkey "
        "AND a.l_linenumber < b.l_linenumber "
        "WHERE a.l_orderkey % 50 = 0")).fetchall())
    assert got == want
    assert sum(t for _, _, t in got) > 0


def test_triangle_count_plan_all_equi_joins(spark):
    from flink_skyline_qos_spark.operators.clustering import triangle_count

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(300)], "src bigint, dst bigint")
    plan = triangle_count(edges)._jdf.queryExecution() \
        .executedPlan().toString()
    # degree orientation + wedge closure are hash equi-joins: a
    # cartesian/NLJ anywhere means the O(|E|·arboricity) bound is gone
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_connected_components_driver_path_matches_distributed(spark):
    """The small-graph union-find fast path must produce exactly the
    distributed star-contraction's labeling, and the threshold must
    dispatch correctly on either side."""
    import random

    rng = random.Random(17)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    iso = spark.createDataFrame([(999,), (1000,)], "doc_id long")
    fast = {(r["node"], r["component"]) for r in connected_components(
        df, nodes=iso, node_col="doc_id").collect()}
    slow = {(r["node"], r["component"]) for r in connected_components(
        df, nodes=iso, node_col="doc_id", driver_threshold=0).collect()}
    assert fast == slow
    assert (999, 999) in fast and (1000, 1000) in fast
    # threshold below |E| falls through to the distributed path
    over = {(r["node"], r["component"]) for r in connected_components(
        df, nodes=iso, node_col="doc_id", driver_threshold=10).collect()}
    assert over == slow


def test_connected_components_probe_canon_computed_once(spark, monkeypatch):
    """Plan-shape guard for the probe-reuse fix (VERDICT r6 #5 /
    ADVICE r5): an over-threshold graph must canonicalize its edge set
    exactly ONCE — the dispatch probe's `_canon` frame is the same
    frame the distributed rounds checkpoint as their base.  A revert to
    re-canonicalizing (probe pass thrown away, base recomputed from
    `edges`) calls `_canon` twice and fails here."""
    import random

    from flink_skyline_qos_spark.operators import clustering as mod

    calls = []
    real_canon = mod._canon

    def counting_canon(edges, src, dst):
        calls.append(1)
        return real_canon(edges, src, dst)

    monkeypatch.setattr(mod, "_canon", counting_canon)

    rng = random.Random(23)
    edges = [(rng.randrange(100), rng.randrange(100)) for _ in range(120)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    # over-threshold -> distributed path; one _canon serves probe + base
    out = mod.connected_components(df, driver_threshold=10)
    n = out.count()
    assert n > 0
    assert len(calls) == 1, f"_canon ran {len(calls)}x on over-threshold"

    # under-threshold -> driver union-find; still exactly one _canon
    calls.clear()
    small = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    mod.connected_components(small, driver_threshold=1000).count()
    assert len(calls) == 1, f"_canon ran {len(calls)}x on under-threshold"


def test_cluster_split_no_leakage(spark, sf_dir):
    """Leakage-safe split: two near-duplicate documents (same
    connected component) NEVER land in different train/val/test
    splits — the property a per-document hash split cannot give."""
    from flink_skyline_qos_spark.operators.clustering import dedup_clusters
    from flink_skyline_qos_spark.operators.dedup import ngram_jaccard_pairs
    from flink_skyline_qos_spark.operators.sampling import hash_split
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, k=3, unit="word", threshold=0.05)
    labeled = dedup_clusters(docs, pairs)
    out = hash_split(labeled.select("doc_id", "cluster_id"),
                     {"train": 0.8, "val": 0.1, "test": 0.1},
                     ["cluster_id"])
    # every cluster maps to exactly one split, and the split assignment
    # covers every document
    per_cluster = (out.groupBy("cluster_id")
                   .agg(F.countDistinct("split").alias("k")).collect())
    assert all(r.k == 1 for r in per_cluster)
    assert out.count() == docs.count()
    # and at least one real multi-member cluster exists in the fixture
    sizes = (out.groupBy("cluster_id").count().filter(F.col("count") > 1))
    assert sizes.count() > 0
