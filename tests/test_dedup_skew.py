"""LSH bucket-skew guards (round-6 verdict item 1).

The degenerate corpus a crawl pipeline actually meets — thousands of
byte-identical boilerplate pages — must NOT make the band self-join emit
O(k^2) candidate pairs from one (band, key) bucket. Defense 1: exact
cliques collapse to one representative before banding (candidate
generation linear in clique size). Defense 2: a deterministic per-bucket
cap bounds whatever survives collapse, with a lineage-visible tripwire.
Both are mirrored in the DuckDB oracles, so the parity gate
(test_oracle_parity) keeps checking the guarded pipeline 1:1.
"""

from pyspark.sql import functions as F

from docling_fast_server_spark.operators import dedup


def _clones(spark, n, text="zzqa zzqb zzqc zzqd zzqe zzqf zzqg zzqh"):
    """n byte-identical documents with vocabulary disjoint from the
    synthetic corpus (no cross-corpus shingle can collide)."""
    return spark.range(1_000_000, 1_000_000 + n).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )


def test_identical_clique_adds_zero_candidates(spark, sf_dir):
    """10k-deep exact-duplicate clique => ONE banded representative =>
    the candidate set is exactly the one the corpus alone produces
    (uncollapsed banding would add C(10k, 2) ~ 50M pairs)."""
    base = dedup.mutated_corpus(spark, sf_dir)
    try:
        n_base = dedup.minhash_candidate_pairs(base).count()
        n_with = dedup.minhash_candidate_pairs(
            base.unionByName(_clones(spark, 10_000))
        ).count()
    finally:
        dedup.clear_caches(spark)
    assert n_with == n_base, (n_with, n_base)


def test_intra_clique_pairs_expand_exactly(spark, sf_dir):
    """The output contract still covers exact duplicates: a k-clique
    yields all C(k, 2) member pairs at jaccard 1.0 via the membership
    expansion — without any of them ever being banded candidates."""
    corpus = _clones(spark, 50)
    try:
        cand = dedup.minhash_candidate_pairs(corpus).count()
        rows = dedup.minhash_pairs(corpus).collect()
    finally:
        dedup.clear_caches(spark)
    assert cand == 0
    assert len(rows) == 50 * 49 // 2
    assert all(r.jaccard == 1.0 and r.doc_a < r.doc_b for r in rows)
    assert len({(r.doc_a, r.doc_b) for r in rows}) == len(rows)


def test_clique_collapse_preserves_uncollapsed_output(spark, sf_dir):
    """minhash_pairs == an uncollapsed, uncapped DuckDB mirror on the
    gate corpus: the oracle's hash-set, signature and band CTEs over
    EVERY document, band self-join, distinct, exact Jaccard >=
    threshold (identical hash set => identical signature => identical
    buckets, so collapse+expansion is a pure refactor of candidate
    generation)."""
    import duckdb

    corpus = dedup.mutated_corpus(spark, sf_dir)
    try:
        guarded = sorted(
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
    assert guarded == naive and naive


def test_bucket_cap_bounds_near_dup_families(spark, sf_dir):
    """DISTINCT-but-near-identical docs (not collapsible by set
    identity) still bound: with bucket_cap=8 every hot bucket of the
    500-member near-dup family is suppressed, so candidates collapse to
    the under-cap buckets' contribution instead of ~C(500, 2)."""
    fam = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("zzqa zzqb zzqc zzqd zzqe zzqf zzqg zzqh tail"),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    try:
        capped = dedup.minhash_candidate_pairs(fam, bucket_cap=8).count()
        uncapped = dedup.minhash_candidate_pairs(fam).count()
    finally:
        dedup.clear_caches(spark)
    assert uncapped > 10_000  # the family really is one hot bucket family
    assert capped <= dedup.N_BANDS * 8 * 7 // 2


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


def test_gate_scale_buckets_stay_under_caps(spark, sf_dir):
    """At gate scale no cap may bite (the guards are tripwires, not
    routine truncation): max minhash bucket after clique collapse must
    sit far below MINHASH_BUCKET_CAP. Reads the engine's own rep-level
    banding, the fifth value of _minhash_stages."""
    corpus = dedup.mutated_corpus(spark, sf_dir)
    try:
        *_, bands = dedup._minhash_stages(corpus, dedup.MINHASH_BUCKET_CAP)
        worst = (
            dedup.bucket_tripwire(bands, dedup.MINHASH_BUCKET_CAP)
            .agg(F.max("max_bucket").alias("m"), F.sum("suppressed_members").alias("c"))
            .collect()[0]
        )
    finally:
        dedup.clear_caches(spark)
    assert worst.c == 0
    assert worst.m < dedup.MINHASH_BUCKET_CAP // 4


def test_tripwire_matches_duckdb_oracle(spark, sf_dir):
    """Driver-grade cross-engine check for the tripwire metric itself:
    per-band stats of the rep-level minhash banding computed by Spark
    (bucket_tripwire) and by a DuckDB mirror of the same CTEs must agree
    value-for-value. (The 50-entry registry is pinned by the driver
    gate, so this correctness row lives here instead.)"""
    import duckdb

    from docling_fast_server_spark.operators.dedup import (
        _BANDS_SQL,
        _SIG_COLS_SQL,
        HASHSETS_SQL,
        MINHASH_BUCKET_CAP,
        MUTATED_SQL,
        SETF_B1,
        SETF_B2,
        SETF_P1,
        SETF_P2,
        _set_fold_sql,
    )

    corpus = dedup.mutated_corpus(spark, sf_dir)
    try:
        *_, bands = dedup._minhash_stages(corpus, MINHASH_BUCKET_CAP)
        got = sorted(
            (r.band, r.n_buckets, r.max_bucket, r.over_cap_buckets, r.suppressed_members)
            for r in dedup.bucket_tripwire(bands, MINHASH_BUCKET_CAP).collect()
        )
    finally:
        dedup.clear_caches(spark)
    sql = f"""
        WITH corpus AS ({MUTATED_SQL}),
        hsets AS ({HASHSETS_SQL}),
        tagged AS (
            SELECT doc_id, {_SIG_COLS_SQL},
                   min(doc_id) OVER (PARTITION BY
                       {_set_fold_sql('hs', SETF_B1, SETF_P1)},
                       {_set_fold_sql('hs', SETF_B2, SETF_P2)}) AS rep
            FROM hsets
        ),
        sig AS (SELECT * FROM tagged WHERE doc_id = rep),
        bands AS ({_BANDS_SQL}),
        per_bucket AS (SELECT band, key, count(*) AS n FROM bands GROUP BY band, key)
        SELECT band, count(*), max(n),
               sum(CASE WHEN n > {MINHASH_BUCKET_CAP} THEN 1 ELSE 0 END),
               sum(CASE WHEN n > {MINHASH_BUCKET_CAP} THEN n ELSE 0 END)
        FROM per_bucket GROUP BY band ORDER BY band
    """
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = [tuple(int(x) for x in r) for r in con.execute(sql).fetchall()]
    con.close()
    assert [tuple(int(x) for x in r) for r in got] == want
    assert want  # at least one band row came back


def test_hashset_kernel_matches_hof_reference(spark, sf_dir):
    """The vectorized rolling-hash mapInArrow kernel must be integer-
    identical to the DuckDB oracle's per-position shingle hashes
    (poly_hash_sql over _SHINGLE_EXPR_SQL, first occurrences kept in
    order) on the real mutated corpus AND on adversarial whitespace/
    unicode/duplicate-shingle cases: the same values in the same
    first-occurrence order."""
    import duckdb

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
