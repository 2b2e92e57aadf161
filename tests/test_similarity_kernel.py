"""The brute-force top-k kernel (similarity.brute_topk) against the
DuckDB oracle on tables built to break it: ties that only the vec_id
tiebreak decides, cosines next to a round(., 3) boundary, Arrow batches
smaller than k, and rows the cosine is undefined for."""

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from docling_fast_server_spark.operators.similarity import (
    DIM,
    ORACLE_SIM_TOPK_BRUTE,
    QUERY_MOD,
    q_sim_topk_brute,
)

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _table(tmp_path, vecs) -> str:
    """Write (vec_id, embedding) rows as the embeddings table of a fresh
    table directory; returns the directory."""
    ids = [i for i, _ in vecs]
    embs = [None if e is None else [None if x is None else float(x) for x in e] for _, e in vecs]
    d = tmp_path / "tables"
    d.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(embs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        d / "embeddings.parquet",
    )
    return str(d)


def _oracle(sf: str) -> list:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    rows = sorted(con.execute(ORACLE_SIM_TOPK_BRUTE).fetchall())
    con.close()
    return rows


def _assert_matches_oracle(spark, sf: str, batch: int | None = None) -> list:
    old = spark.conf.get(BATCH_CONF)
    try:
        if batch is not None:
            spark.conf.set(BATCH_CONF, str(batch))
        got = sorted(map(tuple, q_sim_topk_brute(spark, sf).collect()))
    finally:
        spark.conf.set(BATCH_CONF, old)
    want = _oracle(sf)
    assert got == want and len(got) > 0
    return got


@pytest.mark.parametrize("batch", [None, 3, 1])
def test_ties_decided_by_vec_id(spark, tmp_path, batch):
    """Four integer base vectors, each replicated at scales 1-3 over 200
    ids: every query ties at cos 1.0 with ~49 rows and with more at every
    other cosine, so the vec_id tiebreak picks the top k. Batches of 3
    and of 1 row hold fewer rows than k (a 1-row batch may hold only the
    query itself)."""
    base = np.random.default_rng(12).integers(-9, 10, (4, DIM))
    vecs = [(i, base[i % 4] * (1 + i % 3)) for i in range(200)]
    got = _assert_matches_oracle(spark, _table(tmp_path, vecs), batch)
    q0 = [r for r in got if r[0] == 0]
    assert [r[1] for r in q0] == [4, 8, 12, 16, 20]  # tied at 1.0: the lowest ids
    assert {r[3] for r in q0} == {1.0}


def test_cosines_next_to_a_rounding_boundary(spark, tmp_path):
    """Neighbours of the query e0 at cosines 1e-6..4e-6 on either side of
    0.9995, 0.8125 and 0.5005, with the larger raw cosine on the larger
    id: after round(., 3) the raw order and the id tiebreak disagree, so
    a kernel that kept only the raw top k would lose the answer."""
    q = np.zeros(DIM)
    q[0] = 1.0
    vecs = [(0, q)]
    vid = 1
    for edge in (0.9995, 0.8125, 0.5005):
        for delta in (-4e-6, -2e-6, -1e-6, 1e-6, 2e-6, 4e-6):
            t = np.float32(np.sqrt(1.0 / (edge + delta) ** 2 - 1.0))
            v = np.zeros(DIM, dtype=np.float32)
            v[0], v[1] = 1.0, t
            cos = 1.0 / np.sqrt(0.0 + 1.0 * 1.0 + float(t) * float(t))
            assert 1e-7 < abs(cos - edge) < 1e-5 and (cos > edge) == (delta > 0)
            vecs.append((vid, v))
            vid += 1
    got = _assert_matches_oracle(spark, _table(tmp_path, vecs))
    # 3 rows round up to 1.0; of the 3 that round down to 0.999, the two
    # lowest ids, which hold the smaller raw cosines
    by_rank = [(r[1], r[3]) for r in sorted(got, key=lambda r: r[2])]
    assert by_rank == [(4, 1.0), (5, 1.0), (6, 1.0), (1, 0.999), (2, 0.999)]


def _good_vecs(n: int = 12):
    rng = np.random.default_rng(3)
    return [(i, rng.integers(-9, 10, DIM) + 0.5) for i in range(n)]


@pytest.mark.parametrize(
    "bad, why",
    [
        (None, "is NULL"),
        (np.ones(DIM - 1), f"is {DIM - 1} long"),
        (np.zeros(DIM), "has norm 0"),
        ([None] + [1.0] * (DIM - 1), "holds a NULL"),
    ],
    ids=["null", "short", "zero_norm", "null_element"],
)
def test_undefined_cosine_raises_naming_the_vec_id(spark, tmp_path, bad, why):
    """A row the cosine is undefined for fails the query with a
    ValueError naming its vec_id: raised by the kernel for a scanned
    row, and on the driver when the row is a query."""
    vecs = _good_vecs()
    vecs[7] = (7, bad)
    with pytest.raises(Exception, match=rf"ValueError: .*vec_id 7 {why}"):
        q_sim_topk_brute(spark, _table(tmp_path / "scan", vecs)).collect()

    q_id = QUERY_MOD  # the same row as a query: found while collecting the queries
    vecs = _good_vecs() + [(q_id, bad)]
    with pytest.raises(ValueError, match=rf"vec_id {q_id} {why}"):
        q_sim_topk_brute(spark, _table(tmp_path / "query", vecs))
