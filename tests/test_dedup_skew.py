"""LSH bucket-skew guards (round-6 verdict item 1).

The degenerate corpus a crawl pipeline actually meets — thousands of
byte-identical boilerplate pages — must NOT make the band self-join emit
O(k^2) candidate pairs from one (band, key) bucket. Defense 1: exact
cliques collapse to one representative before banding (candidate
generation linear in clique size). Defense 2: a deterministic per-bucket
cap bounds whatever survives collapse, with a lineage-visible tripwire.
Both are mirrored in the DuckDB oracles, so the parity gate
(test_oracle_parity) keeps checking the guarded pipeline 1:1.

The minhash stages route on the hash-set row count (dedup.DRIVER_DOCS):
every corpus here is under it, so each minhash differential runs once
per route through the `minhash_routes` fixture, the Spark route forced
by lowering the constant.
"""

import uuid

import duckdb
import pytest
from pyspark.sql import functions as F

from docling_fast_server_spark.operators import dedup


def _clones(spark, n, text="zzqa zzqb zzqc zzqd zzqe zzqf zzqg zzqh"):
    """n byte-identical documents with vocabulary disjoint from the
    synthetic corpus (no cross-corpus shingle can collide)."""
    return spark.range(1_000_000, 1_000_000 + n).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )


def _family(spark, n=500):
    """n DISTINCT-but-near-identical docs (not collapsible by set
    identity): eight shared tokens plus a per-doc tail."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("zzqa zzqb zzqc zzqd zzqe zzqf zzqg zzqh tail"),
            F.col("id").cast("string"),
        ).alias("text"),
    )


FAMILY_SQL = """
    SELECT range AS doc_id,
           'zzqa zzqb zzqc zzqd zzqe zzqf zzqg zzqh tail' || CAST(range AS VARCHAR) AS text
    FROM range(500)
"""


def test_identical_clique_adds_zero_candidates(spark, sf_dir, minhash_routes):
    """10k-deep exact-duplicate clique => ONE banded representative =>
    the candidate set is exactly the one the corpus alone produces
    (uncollapsed banding would add C(10k, 2) ~ 50M pairs)."""
    base = dedup.mutated_corpus(spark, sf_dir)
    for route in minhash_routes():
        try:
            n_base = dedup.minhash_candidate_pairs(base).count()
            n_with = dedup.minhash_candidate_pairs(
                base.unionByName(_clones(spark, 10_000))
            ).count()
        finally:
            dedup.clear_caches(spark)
        assert n_with == n_base, (route, n_with, n_base)


def test_intra_clique_pairs_expand_exactly(spark, sf_dir, minhash_routes):
    """The output contract still covers exact duplicates: a k-clique
    yields all C(k, 2) member pairs at jaccard 1.0 via the membership
    expansion — without any of them ever being banded candidates."""
    corpus = _clones(spark, 50)
    for _ in minhash_routes():
        try:
            cand = dedup.minhash_candidate_pairs(corpus).count()
            rows = dedup.minhash_pairs(corpus).collect()
        finally:
            dedup.clear_caches(spark)
        assert cand == 0
        assert len(rows) == 50 * 49 // 2
        assert all(r.jaccard == 1.0 and r.doc_a < r.doc_b for r in rows)
        assert len({(r.doc_a, r.doc_b) for r in rows}) == len(rows)


def test_clique_collapse_preserves_uncollapsed_output(spark, sf_dir, minhash_routes):
    """minhash_pairs == an uncollapsed, uncapped DuckDB mirror on the
    gate corpus: the oracle's hash-set, signature and band CTEs over
    EVERY document, band self-join, distinct, exact Jaccard >=
    threshold (identical hash set => identical signature => identical
    buckets, so collapse+expansion is a pure refactor of candidate
    generation)."""
    corpus = dedup.mutated_corpus(spark, sf_dir)
    guarded = {}
    for route in minhash_routes():
        try:
            guarded[route] = sorted(
                (r.doc_a, r.doc_b, r.jaccard)
                for r in dedup.minhash_pairs(corpus).collect()
            )
        finally:
            dedup.clear_caches(spark)
    sql = f"""
        WITH corpus AS ({dedup.MUTATED_SQL}),
        hsets AS ({dedup.HASHSETS_SQL}),
        sig AS (SELECT doc_id, {dedup._SIG_COLS_SQL} FROM hsets),
        bands AS ({dedup._BANDS_SQL}),
        pairs AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
            WHERE x.doc_id < y.doc_id
        ),
        {dedup._VERIFY_SQL}
        SELECT doc_a, doc_b,
               round(CAST(n_shared AS DOUBLE) / (na + nb - n_shared), 4) AS jaccard
        FROM verified
        WHERE round(CAST(n_shared AS DOUBLE) / (na + nb - n_shared), 4)
              >= {dedup.JACCARD_THRESHOLD}
    """
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    naive = sorted(con.execute(sql).fetchall())
    con.close()
    assert naive
    for route, got in guarded.items():
        assert got == naive, route


def test_bucket_cap_bounds_near_dup_families(spark, sf_dir, minhash_routes):
    """DISTINCT-but-near-identical docs (not collapsible by set
    identity) still bound: with bucket_cap=8 every hot bucket of the
    500-member near-dup family is suppressed, so candidates collapse to
    the under-cap buckets' contribution instead of ~C(500, 2)."""
    fam = _family(spark)
    for route in minhash_routes():
        try:
            capped = dedup.minhash_candidate_pairs(fam, bucket_cap=8).count()
            uncapped = dedup.minhash_candidate_pairs(fam).count()
        finally:
            dedup.clear_caches(spark)
        assert uncapped > 10_000, route  # the family really is one hot bucket family
        assert capped <= dedup.N_BANDS * 8 * 7 // 2, route


def test_tripwire_reports_capped_buckets(spark):
    """bucket_tripwire: exact per-band counts, over-cap flags, and the
    number of members hot-bucket suppression would drop."""
    rows = [(i, 0, "hot") for i in range(10)] + [(99, 0, "cold"), (7, 1, "x")]
    banded = spark.createDataFrame(rows, "doc_id long, band int, key string")
    got = {
        r.band: r for r in dedup.bucket_tripwire(banded, cap=4).collect()
    }
    assert got[0].n_buckets == 2
    assert got[0].max_bucket == 10
    assert got[0].over_cap_buckets == 1
    assert got[0].suppressed_members == 10
    assert got[1].suppressed_members == 0


def test_gate_scale_buckets_stay_under_caps(spark, sf_dir, minhash_routes):
    """At gate scale no cap may bite (the guards are tripwires, not
    routine truncation): max minhash bucket after clique collapse must
    sit far below MINHASH_BUCKET_CAP. Reads the engine's own tripwire
    over its rep-level banding, the last value of _minhash_stages."""
    corpus = dedup.mutated_corpus(spark, sf_dir)
    for route in minhash_routes():
        try:
            *_, trip = dedup._minhash_stages(corpus, dedup.MINHASH_BUCKET_CAP)
            worst = trip.agg(
                F.max("max_bucket").alias("m"), F.sum("suppressed_members").alias("c")
            ).collect()[0]
        finally:
            dedup.clear_caches(spark)
        assert worst.c == 0, route
        assert worst.m < dedup.MINHASH_BUCKET_CAP // 4, route


def _duck_buckets_sql(corpus_sql):
    """(band, key, n) of every bucket of the rep-level minhash banding of
    ``corpus_sql``, as a DuckDB mirror of the oracle's CTEs."""
    return f"""
        WITH corpus AS ({corpus_sql}),
        hsets AS ({dedup.hashsets_sql()}),
        tagged AS (
            SELECT doc_id, {dedup._SIG_COLS_SQL},
                   min(doc_id) OVER (PARTITION BY
                       {dedup._set_fold_sql('hs', dedup.SETF_B1, dedup.SETF_P1)},
                       {dedup._set_fold_sql('hs', dedup.SETF_B2, dedup.SETF_P2)}) AS rep
            FROM hsets
        ),
        sig AS (SELECT * FROM tagged WHERE doc_id = rep),
        bands AS ({dedup._BANDS_SQL})
        SELECT band, key, count(*) AS n FROM bands GROUP BY band, key
    """


def _duck_tripwire(con, corpus_sql, cap):
    """Per-band (band, n_buckets, max_bucket, over_cap_buckets,
    suppressed_members) of the rep-level minhash banding of
    ``corpus_sql``, computed by a DuckDB mirror of the oracle's CTEs."""
    sql = f"""
        SELECT band, count(*), max(n),
               sum(CASE WHEN n > {cap} THEN 1 ELSE 0 END),
               sum(CASE WHEN n > {cap} THEN n ELSE 0 END)
        FROM ({_duck_buckets_sql(corpus_sql)}) GROUP BY band ORDER BY band
    """
    return [tuple(int(x) for x in r) for r in con.execute(sql).fetchall()]


def _trip_rows(trip):
    return sorted(
        (r.band, r.n_buckets, r.max_bucket, r.over_cap_buckets, r.suppressed_members)
        for r in trip.collect()
    )


def test_tripwire_matches_duckdb_oracle(spark, sf_dir, minhash_routes):
    """Driver-grade cross-engine check for the tripwire metric itself:
    per-band stats of the rep-level minhash banding computed by the
    engine (the tripwire of _minhash_stages) and by a DuckDB mirror of
    the same CTEs must agree value-for-value. (The registry is pinned at
    50 entries, so this correctness row lives here instead.)"""
    corpus = dedup.mutated_corpus(spark, sf_dir)
    got = {}
    for route in minhash_routes():
        try:
            *_, trip = dedup._minhash_stages(corpus, dedup.MINHASH_BUCKET_CAP)
            got[route] = _trip_rows(trip)
        finally:
            dedup.clear_caches(spark)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = _duck_tripwire(con, dedup.MUTATED_SQL, dedup.MINHASH_BUCKET_CAP)
    con.close()
    assert want  # at least one band row came back
    for route, rows in got.items():
        assert [tuple(int(x) for x in r) for r in rows] == want, route


def _string_ids(spark, sf_dir):
    return dedup.mutated_corpus(spark, sf_dir).selectExpr(
        "concat('d', CAST(doc_id AS STRING)) AS doc_id", "text"
    )


# corpora the route-equivalence test runs: (build(spark, sf_dir),
# bucket_cap); a None cap is the family's largest bucket, which sits AT
# the cap and so is kept
EDGE_CORPORA = {
    "cap_bites": (lambda spark, sf_dir: _family(spark), 8),
    "cap_equals_largest_bucket": (lambda spark, sf_dir: _family(spark), None),
    "string_ids": (_string_ids, dedup.MINHASH_BUCKET_CAP),
    "one_clique": (lambda spark, sf_dir: _clones(spark, 50), dedup.MINHASH_BUCKET_CAP),
    "empty": (
        lambda spark, sf_dir: spark.createDataFrame([], "doc_id long, text string"),
        dedup.MINHASH_BUCKET_CAP,
    ),
    "short_docs": (
        lambda spark, sf_dir: spark.createDataFrame(
            [(1, "two words"), (2, "one"), (3, ""), (4, "x y")], "doc_id long, text string"
        ),
        dedup.MINHASH_BUCKET_CAP,
    ),
}


@pytest.mark.parametrize("case", sorted(EDGE_CORPORA))
def test_minhash_routes_agree_on_edge_corpora(spark, sf_dir, minhash_routes, case):
    """The driver and Spark routes of _minhash_stages return the same
    pairs, candidates and tripwire rows, with equal schemas, on the
    corpora where their code paths differ most: a bucket cap that
    bites, a bucket exactly at the cap, string doc ids, a corpus that is one clique, an empty corpus
    and a corpus of documents shorter than a shingle."""
    build, cap = EDGE_CORPORA[case]
    if cap is None:
        con = duckdb.connect()
        cap = max(r[2] for r in _duck_tripwire(con, FAMILY_SQL, 0))
        con.close()
    corpus = build(spark, sf_dir)
    got = {}
    for route in minhash_routes():
        try:
            pairs, trip = dedup.minhash_pairs_with_diag(corpus, cap)
            cand = dedup.minhash_candidate_pairs(corpus, cap)
            got[route] = (
                pairs.schema,
                sorted(tuple(r) for r in pairs.collect()),
                cand.schema,
                sorted(tuple(r) for r in cand.collect()),
                trip.schema,
                _trip_rows(trip),
            )
        finally:
            dedup.clear_caches(spark)
    assert got["driver"] == got["spark"]
    _, pairs, _, cand, _, trip = got["driver"]
    if case in ("empty", "short_docs"):
        assert pairs == cand == trip == []
    elif case == "one_clique":
        assert cand == [] and len(pairs) == 50 * 49 // 2
        assert trip == [(b, 1, 1, 0, 0) for b in range(dedup.N_BANDS)]
    elif case.startswith("cap_"):
        con = duckdb.connect()
        want = _duck_tripwire(con, FAMILY_SQL, cap)
        con.close()
        assert trip == want
        if case == "cap_bites":
            assert all(r[3] > 0 and r[4] > 0 for r in trip), trip
        else:
            assert max(r[2] for r in trip) == cap and cap > 1
            assert all(r[3] == r[4] == 0 for r in trip), trip
    else:  # string_ids: the oracle's minhash pipeline over the same ids
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        want = con.execute(f"""
            WITH corpus AS (
                SELECT 'd' || CAST(doc_id AS VARCHAR) AS doc_id, text
                FROM ({dedup.MUTATED_SQL})
            ),
            {dedup.minhash_ctes_sql()}
            {dedup.MINHASH_PAIRS_FINAL_SQL}
        """).fetchall()
        con.close()
        assert pairs == sorted(want) and pairs
        assert isinstance(pairs[0][0], str)


def test_minhash_pair_bound_takes_spark_route(spark, sf_dir, monkeypatch):
    """The driver route also bounds the candidate pairs it would build:
    the sum of C(n, 2) over the kept buckets of every band, taken from
    the bucket sizes before any pair is built. A near-dup family whose
    sum is one over DRIVER_PAIRS takes the Spark route (no local
    relation in its candidate plan); at exactly DRIVER_PAIRS it stays
    on the driver. Both give the same candidates."""
    fam = _family(spark)
    con = duckdb.connect()
    (bound,) = con.execute(f"""
        SELECT sum(n * (n - 1) // 2) FROM ({_duck_buckets_sql(FAMILY_SQL)})
        WHERE n BETWEEN 2 AND {dedup.MINHASH_BUCKET_CAP}
    """).fetchone()
    con.close()
    cand = {}
    for limit, local in ((bound, True), (bound - 1, False)):
        monkeypatch.setattr(dedup, "DRIVER_PAIRS", limit)
        try:
            _, _, c, _ = dedup._minhash_stages(fam, dedup.MINHASH_BUCKET_CAP)
            plan = c._jdf.queryExecution().optimizedPlan().toString()
            assert ("LocalRelation" in plan) == local, (limit, plan)
            cand[local] = sorted(tuple(r) for r in c.collect())
        finally:
            dedup.clear_caches(spark)
    assert cand[True] == cand[False]
    assert bound > len(cand[True]) > 10_000  # the family shares its buckets


def test_minhash_small_route_runs_few_jobs_and_leaves_nothing(spark, sf_dir, tmp_path):
    """Under DRIVER_DOCS hash sets the candidate chain runs on the
    driver: minhash_pairs_with_diag, the pairs write and the tripwire
    collect together run at most 7 Spark jobs (the Spark route runs
    about 25), and once clear_caches has run no persisted RDD and no
    temp view is left."""
    sc = spark.sparkContext
    dedup.clear_caches(spark)
    jsc = sc._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    n_tables = len(spark.catalog.listTables())
    corpus = dedup.mutated_corpus(spark, sf_dir)
    group = f"minhash-small-{uuid.uuid4().hex[:8]}"
    try:
        jsc.listenerBus().waitUntilEmpty()
        sc.setJobGroup(group, "minhash small route")
        try:
            pairs, trip = dedup.minhash_pairs_with_diag(corpus)
            pairs.write.parquet(str(tmp_path / "pairs"))
            trip_rows = trip.collect()
        finally:
            jsc.listenerBus().waitUntilEmpty()
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        dedup.clear_caches(spark)
    assert len(trip_rows) == dedup.N_BANDS
    assert spark.read.parquet(str(tmp_path / "pairs")).count() > 0
    assert n_jobs <= 7, n_jobs
    assert jsc.getPersistentRDDs().size() == base
    assert len(spark.catalog.listTables()) == n_tables


def test_hashset_kernel_matches_hof_reference(spark, sf_dir):
    """The vectorized rolling-hash mapInArrow kernel must be integer-
    identical to the DuckDB oracle's per-position shingle hashes
    (poly_hash_sql over _SHINGLE_EXPR_SQL, first occurrences kept in
    order) on the real mutated corpus AND on adversarial whitespace/
    unicode/duplicate-shingle cases: the same values in the same
    first-occurrence order."""

    def per_position_sql(src):
        return f"""
            SELECT doc_id, list_transform(range(len(w) - {dedup.SHINGLE - 1}),
                     shi -> {dedup.poly_hash_sql(dedup._SHINGLE_EXPR_SQL)}) AS hs
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src})
            WHERE len(w) >= {dedup.SHINGLE}
        """

    def first_occurrences(hs):
        return list(dict.fromkeys(hs))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    corpus = dedup.mutated_corpus(spark, sf_dir)
    got = {r.doc_id: list(r.hs) for r in dedup._doc_hashsets(corpus).collect()}
    want = {
        d: first_occurrences(hs)
        for d, hs in con.execute(
            f"WITH corpus AS ({dedup.MUTATED_SQL}) {per_position_sql('corpus')}"
        ).fetchall()
    }
    assert got == want and len(got) > 0

    cases = [
        (1, "a b c"),
        (2, "a  b   c d"),  # empty tokens between multiple spaces
        (3, " lead and trail "),
        (4, "tok " * 500),
        (5, "unicode café naïve résumé again"),
        (6, "a b c a b c a b c"),  # duplicate shingles -> distinct order
        (7, "ab cd"),  # fewer tokens than SHINGLE -> filtered out
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    got = {r.doc_id: list(r.hs) for r in dedup._doc_hashsets(df).collect()}
    con.execute("CREATE TABLE cases (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO cases VALUES (?, ?)", cases)
    want = {
        d: first_occurrences(hs)
        for d, hs in con.execute(per_position_sql("cases")).fetchall()
    }
    con.close()
    assert got == want
    assert 7 not in got and len(got) == 6
