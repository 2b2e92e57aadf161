"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.001, compare
row-count + values (order-insensitive, NULL-safe)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        return f"{v:.9g}"
    return str(v)


def _canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


NAMES = sorted(entry_mod.queries().keys())
# rows built on dedup's minhash stages, which route on the hash-set row
# count (dedup.DRIVER_DOCS): each is checked on both routes
MINHASH_ROWS = ("dedup_minhash", "dedup_clusters", "pipeline_e2e")


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, name, minhash_routes):
    for route in minhash_routes() if name in MINHASH_ROWS else ["default"]:
        _check_query(spark, sf_dir, name, f"{name} ({route} route)")


def _check_query(spark, sf_dir, name, label):
    q = entry_mod.queries()[name]
    o = entry_mod.oracle_sql().get(name)
    sdf = q(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    if o is None:
        assert len(srows) >= 0  # rows-only check
        return
    con = _duck(sf_dir)
    cur = con.execute(o)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    con.close()
    assert sorted(scols) == sorted(dcols), f"{label}: columns {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{label}: rows {len(srows)} vs {len(drows)}"
    sc, dc = _canon(srows, scols), _canon(drows, dcols)
    for i, (a, b) in enumerate(zip(sc, dc)):
        assert a == b, f"{label}: first mismatch at canon row {i}: {a} vs {b}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_paragraph_cap_holds(sf_dir):
    """Every oracle paragraph generator unnests range(MAX_PARAS); a doc
    beyond the cap would silently diverge from the Spark side, so assert
    the live corpus stays under it (ADVICE r01)."""
    import duckdb

    from docling_fast_server_spark.corpus import PARA_WORDS
    from docling_fast_server_spark.oracle import MAX_PARAS

    con = duckdb.connect()
    (max_paras,) = con.execute(
        f"SELECT max((len(string_split(text, ' ')) + {PARA_WORDS - 1}) // {PARA_WORDS}) "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    con.close()
    assert max_paras < MAX_PARAS, (max_paras, MAX_PARAS)


def test_registry_is_exactly_fifty():
    """The driver's correctness gate checks at most the FIRST 50 registry
    entries (round 2 registered 52; exactly positions 51-52 went
    unchecked). Keep the registry at exactly 50 so every entry gets the
    hard signal, and keep a 1:1 oracle mapping."""
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert len(qs) == 50, f"{len(qs)} entries — driver checks only the first 50"
    assert set(qs) == set(os_), set(qs) ^ set(os_)
