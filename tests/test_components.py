"""Connected components (large-star/small-star) vs a DuckDB
recursive-closure oracle, plus the dedup_clusters end-to-end reduction.

The registry is capped at 50 driver-gated queries, so this family is
pytest-gated the same way bucket_tripwire is: the oracle lives inside
the test (DuckDB WITH RECURSIVE min-label closure over the identical
edge list), which checks VALUES, not just row counts — stronger than
the driver's rows-only fallback for iterative operators.

connected_components routes on the edge count: graphs of at most
DRIVER_EDGES edges are labelled on the driver, larger ones run the
large/small-star rounds. Every test graph here is small, so the oracle
differentials run each case under both ROUTES, forcing the rounds route
by lowering the constant below any edge count.
"""

import contextlib

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from docling_fast_server_spark.operators import components, dedup


def _oracle_cc(edge_rows):
    """Min-reachable-label closure in DuckDB over [(u, v), ...]."""
    con = duckdb.connect()
    con.register("edges_in", pd.DataFrame(edge_rows, columns=["a", "b"]))
    out = con.execute(
        """
        WITH RECURSIVE
        sym AS (
            SELECT a AS u, b AS v FROM edges_in
            UNION
            SELECT b, a FROM edges_in
        ),
        nodes AS (SELECT DISTINCT u AS node FROM sym),
        cc(node, lbl) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT s.v, cc.lbl FROM cc JOIN sym s ON s.u = cc.node
        )
        SELECT node, MIN(lbl) AS component FROM cc
        GROUP BY node ORDER BY node
        """
    ).fetchall()
    con.close()
    return sorted((int(n), int(c)) for n, c in out)


ROUTES = ("driver", "rounds")


@contextlib.contextmanager
def _route(route):
    """Run connected_components on the named route: "driver" keeps the
    module constant; "rounds" lowers it below any edge count (the empty
    graph included)."""
    with pytest.MonkeyPatch.context() as mp:
        if route == "rounds":
            mp.setattr(components, "DRIVER_EDGES", -1)
        yield


def _cc_rows(df, route="driver", **kw):
    """(output schema, (node, component) rows sorted with null last) of
    connected_components on the named route."""
    try:
        with _route(route):
            out = components.connected_components(df, **kw)
            schema, rows = out.schema, out.collect()
    finally:
        dedup.clear_caches(df.sparkSession)
    key = lambda r: (r[0] is None, r[0] or 0)  # noqa: E731
    return schema, sorted(((r["node"], r["component"]) for r in rows), key=key)


def _spark_cc(spark, edge_rows, route="driver", **kw):
    df = spark.createDataFrame(
        pd.DataFrame(edge_rows, columns=["doc_a", "doc_b"])
    )
    return [(int(n), int(c)) for n, c in _cc_rows(df, route, **kw)[1]]


def test_cc_matches_oracle_on_pseudo_random_graph(spark):
    """300-node multigraph from a fixed formula: duplicate edges, both
    orientations, self loops, several components and isolated
    self-loop-only nodes."""
    edges = [((i * 7919) % 300, (i * 104729) % 300) for i in range(180)]
    edges += [(b, a) for a, b in edges[:40]]  # reversed duplicates
    edges += [(n, n) for n in (900, 901)]  # self-loop-only nodes
    for route in ROUTES:
        assert _spark_cc(spark, edges, route) == _oracle_cc(edges), route


def test_cc_chain_worst_diameter(spark):
    """A 400-node path is the diameter worst case for label
    propagation; large/small-star must still collapse it to one
    min-rooted star in O(log^2 n) cycles, not O(n)."""
    edges = [(i, i + 1) for i in range(400)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["doc_a", "doc_b"]))
    try:
        stars, rounds = components.cc_fixpoint(df)
        labels = sorted(
            (r["u"], r["v"]) for r in stars.collect()
        )
    finally:
        dedup.clear_caches(spark)
    assert rounds <= 12, rounds
    assert labels == [(i, 0) for i in range(1, 401)]


def test_cc_clique_star_and_empty(spark):
    clique = [(a, b) for a in range(20) for b in range(a + 1, 20)]
    star = [(7, v) for v in range(8, 40)]
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    for route in ROUTES:
        assert _spark_cc(spark, clique, route) == [(i, 0) for i in range(20)]
        assert _spark_cc(spark, star, route) == _oracle_cc(star), route
        assert _cc_rows(empty, route)[1] == [], route


def test_cc_orientation_and_duplication_invariant(spark):
    """The answer is a property of the relation, not the edge-list
    encoding: reversing and duplicating every edge changes nothing."""
    base = [((i * 31) % 97, (i * 57) % 97) for i in range(60)]
    noisy = base + [(b, a) for a, b in base] + base
    for route in ROUTES:
        assert _spark_cc(spark, base, route) == _spark_cc(spark, noisy, route)


def _restore_checkpoint_dir(sc, prev):
    try:  # reset the session-scoped context for the rest of the suite
        if prev is None:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.empty()
            )
        else:
            sc.setCheckpointDir(prev)
    except Exception:
        pass  # leave it set; a stale dir only costs disk, never wrongness


def test_cc_checkpoint_path(spark, tmp_path):
    """With a checkpoint dir configured (the production setting) the
    periodic reliable checkpoint of the rounds route engages and the
    result is unchanged."""
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        edges = [(i, i + 1) for i in range(120)]
        got = _spark_cc(spark, edges, "rounds", checkpoint_interval=2)
        assert got == [(i, 0) for i in range(121)]
    finally:
        _restore_checkpoint_dir(sc, prev)


def test_cc_checkpoint_files_are_garbage_collected(spark, tmp_path):
    """Reliable interval checkpoints must not accumulate files for the
    life of the application (ADVICE r06): superseded rounds are deleted
    as soon as their successor materializes, and clear_caches removes
    the final frame's files too — after consume + clear the checkpoint
    dir holds nothing."""
    import os

    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    ckpt = tmp_path / "ckpt_gc"
    sc.setCheckpointDir(str(ckpt))
    try:
        edges = [(i, i + 1) for i in range(200)]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["doc_a", "doc_b"])
        )
        stars, rounds = components.cc_fixpoint(df, checkpoint_interval=1)
        assert rounds >= 3  # several reliable checkpoints were taken
        files_live = [
            os.path.join(r, f)
            for r, _, fs in os.walk(ckpt)
            for f in fs
        ]
        # only the FINAL round's rdd dir may remain while unconsumed
        live_rdd_dirs = {
            os.path.relpath(p, ckpt).split(os.sep)[1]
            for p in files_live
            if "rdd-" in p
        }
        assert len(live_rdd_dirs) <= 1, live_rdd_dirs
        stars.count()  # consume
    finally:
        dedup.clear_caches(spark)
        _restore_checkpoint_dir(sc, prev)
    leftovers = [
        os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
    ]
    assert leftovers == [], leftovers


def test_cc_reliable_path_recovers_from_block_loss_mid_fixpoint(
    spark, tmp_path, monkeypatch
):
    """The durability story behind ensure_checkpoint_dir: with
    checkpoint_interval=1 every round (seed included) is file-backed,
    so dropping EVERY executor-held storage block after each round (the
    local-mode analog of losing executors mid-fixpoint) still converges
    to the exact answer — each next round recomputes from checkpoint
    FILES. A localCheckpoint frame given the same treatment dies: its
    lineage is truncated and its blocks are not recomputable. That
    contrast is why dedup_clusters/update_clusters default a reliable
    dir instead of inheriting whatever the session happens to have."""
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt_dur"))

    def _drop_all_blocks(df):
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(True)
        except Exception:
            pass

    real_fp = components._fingerprint
    edges = [(i, i + 1) for i in range(150)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["doc_a", "doc_b"]))
    try:
        # contrast: a localCheckpoint frame cannot survive block loss
        frail = df.localCheckpoint(eager=True)
        _drop_all_blocks(frail)
        with pytest.raises(Exception):
            frail.count()

        def lossy_fp(e):
            fp = real_fp(e)
            _drop_all_blocks(e)  # executor dies right after this round
            return fp

        monkeypatch.setattr(components, "_fingerprint", lossy_fp)
        stars, _ = components.cc_fixpoint(df, checkpoint_interval=1)
        got = sorted((r["u"], r["v"]) for r in stars.collect())
        assert got == [(i, 0) for i in range(1, 151)]
    finally:
        dedup.clear_caches(spark)
        _restore_checkpoint_dir(sc, prev)


def test_entry_points_default_a_reliable_checkpoint_dir(spark, sf_dir):
    """dedup_clusters must establish a checkpoint dir when the session
    has none (round-6 verdict item 4) and leave an explicit one alone."""
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    try:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None
        try:
            components.dedup_clusters(spark, sf_dir).count()
        finally:
            dedup.clear_caches(spark)
        assert sc.getCheckpointDir() is not None
        assert "_cc_checkpoints" in sc.getCheckpointDir()
        # an existing dir (production override) is respected
        d = components.ensure_checkpoint_dir(spark)
        assert d == sc.getCheckpointDir()
    finally:
        _restore_checkpoint_dir(sc, prev)


def test_survivors_flow_into_the_commit_sink(spark, sf_dir, tmp_path):
    """The end-to-end keep-set story: dedup_survivors writes through
    the MERGE-grade sink, an incremental second pass appends ONLY new
    survivors (idempotent on the overlap), and the committed table is
    exactly the final survivor set."""
    from docling_fast_server_spark.sources import io as sio

    table = str(tmp_path / "kept")
    try:
        surv = components.dedup_survivors(spark, sf_dir)
        n1 = sio.merge_append_table(surv, table)
        assert n1 == surv.count()
        # a re-run of the same pipeline commits ZERO new rows
        n2 = sio.merge_append_table(
            components.dedup_survivors(spark, sf_dir), table
        )
        assert n2 == 0
        kept = sorted(
            int(r["doc_id"])
            for r in sio.read_table(spark, table).collect()
        )
        expect = sorted(
            int(r["doc_id"])
            for r in components.dedup_survivors(spark, sf_dir).collect()
        )
    finally:
        dedup.clear_caches(spark)
    assert kept == expect


def test_cc_string_ids(spark):
    """The docstring's claim: any orderable id type works; string ids
    order lexicographically (doc-id style keys)."""
    edges = [("doc-003", "doc-001"), ("doc-001", "doc-002"),
             ("doc-010", "doc-011"), ("doc-020", "doc-020")]
    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    for route in ROUTES:
        assert _cc_rows(df, route)[1] == [
            ("doc-001", "doc-001"), ("doc-002", "doc-001"),
            ("doc-003", "doc-001"), ("doc-010", "doc-010"),
            ("doc-011", "doc-010"), ("doc-020", "doc-020"),
        ], route


def test_cc_null_endpoints_and_schema_agree_across_routes(spark):
    """A null endpoint adds no edge, and null itself comes out as one
    (null, null) row on both routes. Both routes also give the same
    output schema: the wider endpoint type (int widens to long) and the
    endpoints' nullability for `node`, whether or not they are
    nullable."""
    df = spark.createDataFrame(
        [(1, None), (None, None), (3, 4), (4, 5), (None, 7), (8, 8)],
        "doc_a int, doc_b long",
    )
    want = [(1, 1), (3, 3), (4, 3), (5, 3), (7, 7), (8, 8), (None, None)]
    got = {route: _cc_rows(df, route) for route in ROUTES}
    assert got["driver"] == got["rounds"]
    schema, rows = got["driver"]
    assert rows == want
    assert [f.dataType.typeName() for f in schema] == ["long", "long"]
    chain = spark.range(6).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    assert not any(f.nullable for f in chain.schema)
    got = {route: _cc_rows(chain, route) for route in ROUTES}
    assert got["driver"] == got["rounds"]
    assert got["driver"][1] == [(i, 0) for i in range(7)]


def test_cc_small_route_runs_two_jobs_and_leaves_nothing(spark, tmp_path):
    """Under DRIVER_EDGES edges, with a checkpoint dir configured (as
    the production entry points have): connected_components runs at
    most two Spark jobs before the caller's action (the count that fills
    the projection's cache, then the Arrow collect), writes no
    checkpoint file, and once clear_caches has run no persisted RDD is
    left."""
    import os
    import uuid

    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    ckpt = tmp_path / "ckpt_small"
    sc.setCheckpointDir(str(ckpt))
    dedup.clear_caches(spark)
    jsc = sc._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    edges = [(i, i + 1) for i in range(100)] + [(500, 501)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["doc_a", "doc_b"]))
    group = f"cc-small-{uuid.uuid4().hex[:8]}"
    try:
        sc.setJobGroup(group, "connected_components small route")
        try:
            out = components.connected_components(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        got = sorted((r["node"], r["component"]) for r in out.collect())
    finally:
        dedup.clear_caches(spark)
        _restore_checkpoint_dir(sc, prev)
    assert got == _oracle_cc(edges)
    assert n_jobs <= 2, n_jobs
    assert jsc.getPersistentRDDs().size() == base
    files = [os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs]
    assert files == [], files


def test_cc_plan_is_constant_size_across_rounds(spark):
    """The make-or-break property of the iterative loop: every round is
    eagerly truncated, so the returned frame's plan is a materialized
    leaf — NOT a tree that grew by a constant factor per round. Without
    truncation a 400-node chain (more rounds) would carry an
    exponentially larger plan than a 50-node one and Catalyst analysis,
    not data, would dominate."""
    plans = {}
    for n in (50, 400):
        df = spark.createDataFrame(
            pd.DataFrame([(i, i + 1) for i in range(n)],
                         columns=["doc_a", "doc_b"])
        )
        try:
            stars, rounds = components.cc_fixpoint(df)
            plan = stars._jdf.queryExecution().analyzed().toString()
        finally:
            dedup.clear_caches(spark)
        assert rounds >= 2
        assert "Join" not in plan, plan
        assert len(plan) < 2000, len(plan)
        plans[n] = len(plan)
    # plan size is independent of how many rounds ran
    assert abs(plans[400] - plans[50]) < 200, plans


def test_cc_hypothesis_differential_vs_oracle(spark):
    """Seeded random multigraphs (hypothesis) vs the DuckDB closure —
    few examples because each runs real Spark jobs; shapes cover dense
    overlap, multi-edges and isolated nodes."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    edge = st.tuples(st.integers(0, 25), st.integers(0, 25))

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(edges=st.lists(edge, min_size=1, max_size=40))
    def check(edges):
        want = _oracle_cc(edges)
        for route in ROUTES:
            assert _spark_cc(spark, edges, route) == want, route

    check()


def test_cc_releases_all_blocks(spark):
    """localCheckpoint pins RDD blocks that df.unpersist() cannot free;
    the rounds loop must release each round's blocks itself and register
    the fixpoint frame's for clear_caches — NOTHING may survive the
    clear (the same zero-leftover contract test_escaping pins for
    dedup)."""
    from docling_fast_server_spark.operators import dedup as dd

    dd.clear_caches()
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    edges = [(i, i + 1) for i in range(150)]
    got = _spark_cc(spark, edges, "rounds")  # clears caches in its finally
    assert got == [(i, 0) for i in range(151)]
    assert jsc.getPersistentRDDs().size() == base


def test_cc_nonconvergence_is_loud(spark):
    import pytest

    df = spark.createDataFrame(
        pd.DataFrame([(i, i + 1) for i in range(50)],
                     columns=["doc_a", "doc_b"])
    )
    with pytest.raises(RuntimeError, match="converge"):
        try:
            components.cc_fixpoint(df, max_rounds=1)
        finally:
            dedup.clear_caches(spark)


def test_update_clusters_incremental_equals_batch(spark):
    """Folding a delta into an existing assignment == re-clustering the
    unioned edge set, including when the delta bridges two old clusters
    and introduces brand-new nodes; the incremental run re-converges in
    a couple of cycles because the old mass is already star-shaped."""
    old = [(i, i + 1) for i in range(0, 50)]  # one big chain 0..50
    old += [(i, i + 1) for i in range(100, 120)]  # second cluster
    old += [(n, n) for n in (500, 501)]  # singletons ride as self-loops
    delta = [(50, 100), (501, 502), (900, 901)]  # bridge, grow, new
    labels_old = spark.createDataFrame(
        pd.DataFrame(old, columns=["doc_a", "doc_b"])
    )
    for route in ROUTES:
        try:
            with _route(route):
                prev = components.connected_components(labels_old)
                upd = components.update_clusters(
                    prev,
                    spark.createDataFrame(
                        pd.DataFrame(delta, columns=["doc_a", "doc_b"])
                    ),
                )
                got = sorted(
                    (int(r["node"]), int(r["component"]))
                    for r in upd.collect()
                )
            # incremental convergence is fast: the union of stars + 3
            # edges must fix in far fewer cycles than the original chain
            # needed
            prev_edges = prev.select(
                F.col("node").alias("doc_a"), F.col("component").alias("doc_b")
            ).unionByName(
                spark.createDataFrame(
                    pd.DataFrame(delta, columns=["doc_a", "doc_b"])
                )
            )
            _, rounds = components.cc_fixpoint(prev_edges)
        finally:
            dedup.clear_caches(spark)
        assert got == _oracle_cc(old + delta), route
        assert rounds <= 3, (route, rounds)


def test_dedup_clusters_end_to_end(spark, sf_dir):
    """dedup_clusters over the mutated near-dup corpus == DuckDB
    closure over the SAME verified pair set, extended with singleton
    self-assignment; survivors are exactly the per-cluster minima."""
    corpus = dedup.mutated_corpus(spark, sf_dir)
    try:
        pair_rows = [
            (int(r["doc_a"]), int(r["doc_b"]))
            for r in dedup.minhash_pairs(corpus).collect()
        ]
        doc_ids = [int(r["doc_id"]) for r in corpus.select("doc_id").collect()]
        got = sorted(
            (int(r["doc_id"]), int(r["component"]))
            for r in components.dedup_clusters(spark, sf_dir).collect()
        )
        survivors = sorted(
            int(r["doc_id"])
            for r in components.dedup_survivors(spark, sf_dir).collect()
        )
        stats = components.cluster_stats(
            components.dedup_clusters(spark, sf_dir)
        ).head()
    finally:
        dedup.clear_caches(spark)

    oracle = dict(_oracle_cc(pair_rows))
    expected = sorted((d, oracle.get(d, d)) for d in doc_ids)
    assert got == expected
    comp_of = dict(expected)
    assert survivors == sorted({c for c in comp_of.values()})
    assert stats["n_docs"] == len(doc_ids)
    assert stats["n_clusters"] == len(set(comp_of.values()))
    assert stats["n_dropped"] == len(doc_ids) - stats["n_clusters"]
    sizes = pd.Series(list(comp_of.values())).value_counts()
    assert stats["max_cluster_size"] == int(sizes.max())
    # the corpus construction guarantees real multi-member clusters
    assert stats["n_dropped"] > 0


def test_incremental_certification_end_to_end(spark, sf_dir, tmp_path):
    """The sf1-certification scenario at test scale (round-7 verdict
    item 5): pass 1 clusters half the corpus and commits survivors,
    pass 2 folds only the delta pairs in via update_clusters, the
    incremental assignment equals the from-scratch batch closure, and
    the MERGE sink holds exactly the final survivor set after appending
    only the new ones (idempotent on re-append)."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "update_clusters_certify",
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "scripts",
            "update_clusters_certify.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    facts = mod.certify(spark, sf_dir, str(tmp_path / "kept"))
    assert facts["incremental_equals_batch"], facts
    assert facts["sink_exactly_survivors"], facts
    assert facts["delta_appended"] > 0, facts
