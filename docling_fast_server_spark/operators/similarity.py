"""Similarity search over the embeddings table.

Brute-force cosine top-k as the correctness baseline, and a multi-band
random-hyperplane LSH variant as the scale path (at 100 TB the bucket
assignment is one narrow map, the candidate join shuffles once on the
(band, key) pair, and per-bucket top-k is a bounded window — no all-pairs
stage).

The LSH uses an OR-construction over ANN_BANDS bands of
ANN_PLANES_PER_BAND hyperplanes each (16 planes total): a candidate must
match the query's full bit-key in AT LEAST ONE band. Per-band keys of b
bits keep candidate sets ~n/2^b per band (selectivity grows with planes),
while the OR over bands recovers recall that a single monolithic bucket
table loses — P(candidate) = 1 - (1 - p_band)^bands where
p_band = (1 - theta/pi)^b for vectors at angle theta. With 4x4 this is
~0.95 for cos≈0.9 neighbors and ~1-1e-7 for near-duplicates.

Brute force scores in one Arrow kernel (brute_topk); the LSH and IVF
variants are pure DataFrame code. All three are exactly reproducible in
DuckDB. The brute kernel folds each dot and norm left to right from 0.0
over DIM in numpy, the same IEEE operations in the same order as the
aggregate(zip_with(...)) fold, so its cosines are bit-identical to it. In
the DataFrame variants the per-PAIR dot is routed by table size
(_route_dot): an UNROLLED fixed-DIM sum of array-element products (plain
arithmetic inside whole-stage codegen) at scale, the interpreted
aggregate(zip_with(...)) fold below CODEGEN_MIN_ROWS; per-vector norms
are computed ONCE per row before any candidate join instead of once per
candidate pair. Both dot forms are bit-identical: the unrolled sum folds
left-to-right exactly like the aggregate seeded with 0.0, and the norm
is the same expression over the same values — including
the deterministic pseudo-random hyperplanes: h_p[d] = ((1 + (p*64+d) *
2654435761) % 97) - 48 — integer arithmetic, identical in both engines.

Ranking is done on round(cos, 3) with vec_id tiebreak: coarse rounding
makes score ties abundant and the id tiebreak resolves them, so 1-ulp
float-summation differences between engines can essentially never flip a
rank. The emitted score IS cos3 — never re-round an already-rounded value
across engines: exact .xx5 decimals round differently under Spark's
shortest-string BigDecimal HALF_UP vs DuckDB's scaled-double rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DIM = 64
QUERY_MOD = 50  # vec_id % 50 == 0 are the query set
TOPK = 5
ANN_TOPK = 3
ANN_BANDS = 8
ANN_PLANES_PER_BAND = 3  # 24 planes total, 8 buckets per band.
# Chosen empirically on the synthetic table (near-uniform random vectors —
# the LSH worst case, where true top-k neighbors sit at ~75 degrees):
# 4x4 -> recall@3 0.47, 8x3 -> 0.67, 8x2 -> 0.87 but ~2n candidates.
# Real embedding corpora cluster, so the same 8x3 yields both higher
# recall and far better selectivity; ppb is the scale knob (buckets per
# band = 2^ppb, candidate share ~ n/2^ppb per band).
_MIX = 2654435761  # Knuth multiplicative constant


def _vecs(spark, sf_dir):
    from ..tables import read_table

    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def _dot_hof(a, b):
    """Dot product as an aggregate(zip_with) fold. Interpreted
    (HigherOrderFunction is CodegenFallback) but its expression TREE is
    three nodes, so it is safe at per-ROW sites whose inputs are still
    unresolved expressions (v = transform(embedding, cast) in the same
    Project): Catalyst substitutes the input ONCE. The unrolled _dot
    there would inline the transform into all DIM element accesses —
    an O(DIM^2) tree that blows the 64 KB codegen method limit and
    turns the whole stage interpreted (measured: 2.4 s -> 17 s on the
    LSH query at sf0.01)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _dot(a, b):
    """Dot product as an unrolled fixed-DIM sum — whole-stage-codegen
    arithmetic, for per-PAIR sites only (post-join projections, lambda
    variables), where both inputs are materialized attributes so each
    element access is one GetArrayItem. Bit-identical to _dot_hof:
    IEEE left-to-right association, and a 0.0 seed is exact."""
    s = a[0] * b[0]
    for i in range(1, DIM):
        s = s + a[i] * b[i]
    return s


def _norm(a):
    """Per-row norm; HOF form — computed in the same Project that
    derives v, where the unrolled form would explode (see _dot_hof)."""
    return F.sqrt(_dot_hof(a, a))


# Scale routing for the per-PAIR dot (round-7 verdict item: the unrolled
# codegen dot carries a fixed per-execution plan/codegen cost of ~0.5-0.6 s
# per stage that embeds it — measured this round on the isolated scored
# stage: 0.95 s unrolled vs 0.40 s HOF at sf0.1's 2,000 vectors — repaid
# only when the pair count is large (sf1, 119k vectors: 80 s unrolled vs
# 161 s HOF for the full brute query). Route by the TABLE's row count:
# below the crossover the interpreted HOF fold is cheaper than compiling
# the 64-term expression; above it codegen wins by 2x. Crossover math:
# compile tax ~0.6 s / (hof-minus-codegen per-pair ~0.3 us) ~ 2M pairs
# ~ 10k vectors at the n^2/QUERY_MOD pair count. Both forms are
# bit-identical (IEEE left-to-right association from a 0.0 seed), so the
# route can never change a result — pinned by test_dot_route_equivalence.
# Re-measured with session.get_spark's 2048-entry generated-class cache,
# both routes' classes cached (perfbench corpus_prep inputs, 2,000
# vectors, the scored brute top-k of the time, local[4], 4-vCPU VM,
# median of 8 executions): the unrolled dot costs 2.83 task-CPU-s per
# execution against 0.49 for the HOF dot. The compile tax was not the
# gap, so the constant stays.
CODEGEN_MIN_ROWS = 10_000


def _parquet_num_rows(path: str) -> int | None:
    """Row count from parquet footers (driver-side metadata only, no
    Spark job — the same information a table catalog serves for free).
    A ``file:`` URI is read as the local path it names. Returns None
    when the path is not locally statable (non-local FS); callers then
    take the codegen route, the safe-at-scale default."""
    import glob as _glob
    import os as _os
    import re as _re

    path = _re.sub(r"^file:(//)?", "", path)
    try:
        import pyarrow.parquet as _pq

        files = (
            [path]
            if _os.path.isfile(path)
            else _glob.glob(_os.path.join(path, "*.parquet"))
        )
        if not files:
            return None
        return sum(_pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def _route_dot(sf_dir: str) -> str:
    n = _parquet_num_rows(f"{sf_dir}/embeddings.parquet")
    return "unrolled" if n is None or n >= CODEGEN_MIN_ROWS else "hof"


# SQL renderings of the two dot forms and the HOF norm (r8): the query
# builds below issue selectExpr strings instead of Column trees — the
# Column construction of the unrolled dot alone is ~0.22 s of py4j
# latency per build, and each HOF lambda ~15-20 ms. The parsed
# expressions are the identical Catalyst trees (left-associated `+`
# chain; aggregate/zip_with lambdas; 0.0D double literal seed).
_DOT_HOF_SQL = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
_DOT_UNROLLED_SQL = " + ".join(f"{{a}}[{i}] * {{b}}[{i}]" for i in range(DIM))


def _dot_sql(route: str, a: str, b: str) -> str:
    if route == "hof":
        return _DOT_HOF_SQL.format(a=a, b=b)
    if route == "unrolled":
        return _DOT_UNROLLED_SQL.format(a=a, b=b)
    raise ValueError(f"unknown dot route {route!r}")


def _norm_sql(col: str) -> str:
    return f"sqrt({_DOT_HOF_SQL.format(a=col, b=col)})"


def _rank_topk(scored, k: int):
    """(q_id, neighbor_id, cos3) -> top-k per query with the coarse-round
    + id tiebreak rank (WindowGroupLimit pushes the filter into the
    sort, so no query's full candidate list ever materializes)."""
    return (
        scored.selectExpr(
            "q_id",
            "neighbor_id",
            "cos3",
            "CAST(row_number() OVER (PARTITION BY q_id "
            "ORDER BY cos3 DESC, neighbor_id ASC) AS INT) AS rank",
        )
        .filter(f"rank <= {k}")
        .selectExpr("q_id", "neighbor_id", "rank", "cos3 AS cos_sim")
    )


# The kernel emits, per query and Arrow batch, the rows whose cosine is
# at least the batch's k-th best minus this margin. Spark's HALF_UP
# round(., 3) is monotone and moves a value by at most 0.0005, so a row
# more than 0.001 below the k-th best rounds strictly below k rows of its
# own batch and can never reach the top k.
_TOPK_MARGIN = 0.002
_BLOCK_CELLS = 1 << 16  # query-block x batch-row scores held at once


def _vec_matrix(ids, varr):
    """(ids, V): the int64 ids and the (n, DIM) float64 matrix of an
    Arrow id column and list<float|double> vector column (float widens
    to double exactly, as Spark's cast does). A null id, a null
    vector, a vector that is not DIM long or one holding a null element
    raises a ValueError that names the vec_id: the SQL forms would score
    such a row NULL, silently."""
    import numpy as np
    import pyarrow.compute as pc

    from ..model import np_values

    if ids.null_count:
        raise ValueError("brute_topk: a vec_id is NULL")
    ids_np = np_values(ids).astype(np.int64, copy=False)
    lens = np_values(pc.list_value_length(varr), fill=-1)
    bad = np.flatnonzero(lens != DIM)
    if len(bad):
        i, n = bad[0], lens[bad[0]]
        raise ValueError(
            f"brute_topk: vector of vec_id {ids_np[i]} is "
            f"{'NULL' if n < 0 else f'{n} long'}, not {DIM} long"
        )
    flat = varr.flatten()
    if flat.null_count:
        i = np_values(pc.list_parent_indices(varr))[np.argmin(np_values(flat.is_valid()))]
        raise ValueError(f"brute_topk: vector of vec_id {ids_np[i]} holds a NULL")
    V = np_values(flat).astype(np.float64, copy=False)
    return ids_np, V.reshape(len(ids_np), DIM)


def _fold_norms(ids, V):
    """Per-row sqrt of the left-to-right sum of squares from 0.0 (the
    _norm_sql fold); a zero norm raises a ValueError that names the
    vec_id, where the SQL form divides by zero."""
    import numpy as np

    s = np.zeros(len(V))
    for i in range(DIM):
        s += V[:, i] * V[:, i]
    nrm = np.sqrt(s)
    if len(nrm) and not nrm.all():
        raise ValueError(f"brute_topk: vector of vec_id {ids[np.argmin(nrm)]} has norm 0")
    return nrm


def _topk_kernel(qids, Q, qn, k: int, arrow_id):
    """The brute_topk scoring kernel against the query rows: ids `qids`,
    matrix `Q`, norms `qn`; output ids are `arrow_id` (int32|int64)."""
    import numpy as np
    import pyarrow as pa

    from ..model import numeric_array

    def _score_topk(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0 or len(qids) == 0 or k < 1:
                continue
            ids, V = _vec_matrix(batch.column(0), batch.column(1))
            nrm = _fold_norms(ids, V)
            VT = np.ascontiguousarray(V.T)
            b = max(1, _BLOCK_CELLS // n)
            out_q, out_v, out_c = [], [], []
            for q0 in range(0, len(qids), b):
                Qb, qid_b = Q[q0 : q0 + b], qids[q0 : q0 + b]
                C = np.zeros((len(Qb), n))
                tmp = np.empty_like(C)
                for i in range(DIM):
                    np.multiply(Qb[:, i : i + 1], VT[i], out=tmp)
                    C += tmp
                C /= np.multiply.outer(qn[q0 : q0 + b], nrm)
                is_self = qid_b[:, None] == ids[None, :]
                ranked = np.where(is_self, -np.inf, C)
                if n > k:
                    kth = np.partition(ranked, n - k, axis=1)[:, n - k]
                else:
                    kth = np.full(len(Qb), -np.inf)
                keep = (ranked >= (kth - _TOPK_MARGIN)[:, None]) | np.isnan(C)
                qi, vi = np.nonzero(keep & ~is_self)
                out_q.append(qid_b[qi])
                out_v.append(ids[vi])
                out_c.append(C[qi, vi])
            yield pa.RecordBatch.from_arrays(
                [
                    numeric_array(np.concatenate(out_q), arrow_id),
                    numeric_array(np.concatenate(out_v), arrow_id),
                    numeric_array(np.concatenate(out_c), pa.float64()),
                ],
                names=["q_id", "neighbor_id", "cos"],
            )

    return _score_topk


def brute_topk(vecs: DataFrame, query_filter, k: int = TOPK) -> DataFrame:
    """Exact cosine top-k of every query_filter row against the full
    table. The query rows are collected to the driver once (one job,
    with toArrow) and ride the kernel's closure; the scan side stays
    partition-parallel via the input layout (no repartition — a
    production table is thousands of splits; the bench materializes the
    same layout).

    One mapInArrow kernel scores each Arrow batch against every query,
    in query blocks with in-place numpy ops: dot and norms are folded
    left to right from 0.0 over DIM (never BLAS or np.dot, which
    reassociate the sum), cos = dot / (qn * nrm), and self pairs are
    dropped. Per query it emits only the rows within _TOPK_MARGIN of the
    batch's k-th best, so Spark's round(cos, 3) and the _rank_topk window
    see a few rows per query and batch instead of every pair. Output
    (q_id, neighbor_id, rank, cos_sim)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    sel = vecs.select("vec_id", "v")
    qt = sel.filter(query_filter).toArrow().combine_chunks()
    qids, Q = _vec_matrix(qt.column(0).combine_chunks(), qt.column(1).combine_chunks())
    qn = _fold_norms(qids, Q)
    id_t = sel.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("q_id", id_t),
            T.StructField("neighbor_id", id_t),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    arrow_id = pa.int32() if isinstance(id_t, T.IntegerType) else pa.int64()

    kernel = _topk_kernel(qids, Q, qn, k, arrow_id)
    scored = sel.mapInArrow(kernel, schema=out_schema).selectExpr(
        "q_id", "neighbor_id", "round(cos, 3) AS cos3"
    )
    return _rank_topk(scored, k)


def q_sim_topk_brute(spark, sf_dir):
    return brute_topk(_vecs(spark, sf_dir), F.col("vec_id") % QUERY_MOD == 0, TOPK)


ORACLE_SIM_TOPK_BRUTE = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
        FROM embeddings
    ),
    queries AS (SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id % {QUERY_MOD} = 0),
    scored AS (
        SELECT q.q_id, x.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, x.v) /
                     (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(x.v, x.v))), 3) AS cos3
        FROM vecs x, queries q WHERE x.vec_id != q.q_id
    ),
    ranked AS (
        SELECT q_id, neighbor_id, cos3,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos3 DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
    )
    SELECT q_id, neighbor_id, rank, cos3 AS cos_sim
    FROM ranked WHERE rank <= {TOPK}
"""


def plane_values(n_planes: int) -> list[list[float]]:
    """The n_planes deterministic integer-valued hyperplanes, computed
    driver-side: h_p[d] = ((1 + (p*DIM+d) * MIX) % 97) - 48. They are
    pure literals — a few KB for any realistic plane count — so the
    Spark side embeds them as literal arrays (one narrow projection, no
    plane table, no join of any kind) while the oracle regenerates the
    identical values from the same formula (planes_sql)."""
    return [
        [float(((1 + (p * DIM + d) * _MIX) % 97) - 48) for d in range(DIM)]
        for p in range(n_planes)
    ]


def planes_sql(n_planes: int) -> str:
    """DuckDB CTE body reproducing plane_values(n_planes) bit-exactly."""
    return f"""
        SELECT CAST(p AS INTEGER) AS p,
               list_transform(range({DIM}), d -> CAST(((1 + (p*{DIM}+d) * {_MIX}) % 97) - 48 AS DOUBLE)) AS h
        FROM (SELECT unnest(range({n_planes})) AS p)
    """


def _band_keys(planes, bands: int, ppb: int):
    """The banded_buckets kernel over `planes` (bands*ppb, DIM)."""
    import numpy as np
    import pyarrow as pa

    from ..model import list_array, np_values, numeric_array

    def kernel(batches):
        for batch in batches:
            ids, varr = batch.column(0), batch.column(1)
            n = len(ids)
            if n == 0:
                continue
            V = np_values(varr.flatten(), fill=np.nan).reshape(n, DIM)
            keys = np.zeros((n, bands), dtype=np.int32)
            for p in range(bands * ppb):
                acc = V[:, 0] * planes[p, 0]
                for i in range(1, DIM):
                    acc = acc + V[:, i] * planes[p, i]
                keys[:, p // ppb] |= (acc > 0).astype(np.int32) << (p % ppb)
            idx = numeric_array(np.repeat(np.arange(n, dtype=np.int64), bands), pa.int64())
            flat_keys = numeric_array(keys.reshape(-1), pa.int32())
            keys_arr = list_array(np.arange(0, n * bands + 1, bands), flat_keys)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(idx),
                    varr.take(idx),
                    numeric_array(np.tile(np.arange(bands, dtype=np.int32), n), pa.int32()),
                    flat_keys,
                    keys_arr.take(idx),
                ],
                names=["vec_id", "v", "band", "key", "keys"],
            )

    return kernel


def banded_buckets(spark, vecs: DataFrame, bands: int, ppb: int) -> DataFrame:
    """(vec_id, v, band, key): per-band sign-bit LSH key over bands*ppb
    deterministic hyperplanes (plane_values: pure literals, no plane
    table, no join), as an Arrow-batched mapInArrow kernel.

    A higher-order-function form evaluates one interpreted
    aggregate(zip_with) fold per plane per row — bands*ppb*DIM boxed
    evals plus a DIM-array allocation each (sf1: 60 planes x 119k
    vectors on the embedding path). The kernel computes every plane dot
    in DIM vectorized passes with LEFT-TO-RIGHT accumulation (acc +=
    V[:,i]*plane[i], seeded by the first product), so each sign bit and
    band key matches the oracle's banded_buckets_sql; a differential
    test pins kernel == oracle at both plane configurations. Scaling a
    vector by a positive constant never flips a sign bit, so
    exact-scaled near-duplicates always share every band key. Still
    narrow: no exchange before the candidate join, at any corpus size;
    the mapInArrow boundary also materializes derived vector expressions
    (e.g. the mutated corpus's v*1.01) exactly once."""
    import numpy as np
    from pyspark.sql import types as T

    planes = np.array(plane_values(bands * ppb), dtype=np.float64)
    sel = vecs.select("vec_id", "v")
    out_schema = T.StructType(
        [
            sel.schema["vec_id"],
            sel.schema["v"],
            T.StructField("band", T.IntegerType(), False),
            T.StructField("key", T.IntegerType(), False),
            # every band key of the row — lets a consumer pick ONE
            # surviving row per colliding pair with a tiny codegen CASE
            # (first shared band) instead of a table-wide distinct
            T.StructField("keys", T.ArrayType(T.IntegerType(), False), False),
        ]
    )
    return sel.mapInArrow(_band_keys(planes, bands, ppb), schema=out_schema)


def banded_buckets_sql(bands: int, ppb: int) -> str:
    """DuckDB CTE body reproducing banded_buckets over a `vecs` CTE
    with (vec_id, v)."""
    return f"""
        SELECT vec_id, any_value(v) AS v, CAST(p // {ppb} AS INTEGER) AS band,
               CAST(sum(CASE WHEN list_dot_product(v, h) > 0 THEN 1 << (p % {ppb}) ELSE 0 END) AS INTEGER) AS key
        FROM vecs, planes GROUP BY vec_id, p // {ppb}
    """


def lsh_topk(
    spark,
    vecs: DataFrame,
    query_filter,
    k: int = ANN_TOPK,
    bands: int = ANN_BANDS,
    ppb: int = ANN_PLANES_PER_BAND,
    dot=None,
) -> DataFrame:
    """Multi-band LSH approximate top-k: candidates share the query's
    full bit-key in >=1 band (OR-construction). The scan side never
    shuffles: bucket keys are a narrow projection (banded_buckets) and
    the query side is broadcast. Output (q_id, neighbor_id, rank,
    cos_sim) — approximate by construction; the oracle reproduces the
    same buckets so results match exactly. ``dot`` routes the per-pair
    dot ('unrolled' — the codegen at-scale default — or 'hof'; see
    _route_dot; both forms are bit-identical)."""
    dot = dot or "unrolled"
    banded = banded_buckets(spark, vecs, bands, ppb).selectExpr(
        "*", f"{_norm_sql('v')} AS nrm"
    )
    queries = banded.filter(query_filter).selectExpr(
        "vec_id AS q_id",
        "v AS qv",
        "nrm AS qn",
        "keys AS qkeys",
        "band",
        "key",
    )
    # a pair colliding in several bands joins once PER shared band; keep
    # only the row whose band is the FIRST shared band — both sides carry
    # their full key vector, so this is a tiny codegen CASE per row and
    # replaces a table-wide distinct (a full shuffle of every scored
    # candidate: ~240M rows at sf1) with a map-side filter. Same result
    # set — cos3 is a pure function of the pair, and exactly one joined
    # row per pair has band == first shared band. (Valid ONLY because
    # this join has no hot-bucket suppression: with a cap, the first
    # shared band's bucket could be dropped while a later one survives —
    # dedup_embedding keeps its distinct for exactly that reason.)
    first_shared = "-1"
    for b in reversed(range(bands)):
        first_shared = (
            f"(CASE WHEN keys[{b}] = qkeys[{b}] THEN {b} ELSE {first_shared} END)"
        )
    scored = (
        banded.join(F.broadcast(queries), ["band", "key"])
        .filter("NOT (vec_id = q_id)")
        .filter(f"band = {first_shared}")
        .selectExpr(
            "q_id",
            "vec_id AS neighbor_id",
            f"round(({_dot_sql(dot, 'qv', 'v')}) / (qn * nrm), 3) AS cos3",
        )
    )
    return _rank_topk(scored, k)


def q_sim_ann_lsh(spark, sf_dir):
    return lsh_topk(
        spark,
        _vecs(spark, sf_dir),
        F.col("vec_id") % QUERY_MOD == 0,
        dot=_route_dot(sf_dir),
    )


ORACLE_SIM_ANN_LSH = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
        FROM embeddings
    ),
    planes AS ({planes_sql(ANN_BANDS * ANN_PLANES_PER_BAND)}),
    banded AS ({banded_buckets_sql(ANN_BANDS, ANN_PLANES_PER_BAND)}),
    queries AS (SELECT vec_id AS q_id, v AS qv, band, key FROM banded WHERE vec_id % {QUERY_MOD} = 0),
    scored AS (
        SELECT DISTINCT q.q_id, x.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, x.v) /
                     (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(x.v, x.v))), 3) AS cos3
        FROM banded x JOIN queries q ON x.band = q.band AND x.key = q.key AND x.vec_id != q.q_id
    ),
    ranked AS (
        SELECT q_id, neighbor_id, cos3,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos3 DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
    )
    SELECT q_id, neighbor_id, rank, cos3 AS cos_sim
    FROM ranked WHERE rank <= {ANN_TOPK}
"""


IVF_CENTROID_MOD = 337  # vectors with vec_id % 337 == 1 are the centroids
# (~n/337 cells — the deterministic stand-in for a k-means codebook; at
# scale the codebook is a trained side table, same plan shape. Sized so
# the certification scale is REALISTIC IVF: sf1's 110k vectors get ~326
# cells ≈ sqrt(n), the classic IVF-flat sizing — the former mod 37 gave
# 2,973 cells there, and the n_vectors x n_cells assignment transform,
# not the candidate join, dominated the query. Assignment cost drops 9x;
# at the toy gate scales the codebook degenerates to a handful of cells,
# where nprobe=4 covers most of them and recall approaches brute force.)
IVF_NPROBE = 4  # query searches its top-4 cells — the standard IVF
# recall knob (single-probe on near-uniform vectors recalls ~0.07;
# nprobe=4 ≈ 0.3 at ~30% scan share; clustered real data needs fewer)


def ivf_topk(
    vecs: DataFrame,
    query_filter,
    centroid_filter,
    k: int = ANN_TOPK,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-flat approximate top-k: assign every vector to its
    nearest-centroid cell, then search the query's nprobe closest cells.
    The second ANN strategy next to the hyperplane LSH: IVF gives
    data-adaptive cells where LSH gives data-oblivious ones.

    Cell assignment is a NARROW projection: the codebook (assumed
    broadcast-small — at scale it is a trained side table of ~2^16
    centroids) is collected into a single one-row struct array,
    broadcast, and each row ranks its cells with array_sort + a
    deterministic (csim desc, c_id asc) comparator — no per-row window,
    so the full table is never shuffled by vec_id (round 2 ranked cells
    with row_number over Window.partitionBy(vec_id), shipping every
    vector through TWO table-wide exchanges). The only wide op left is
    the broadcast candidate join on cell id. Output (q_id, neighbor_id,
    rank, cos_sim); the oracle reproduces the cells exactly, so results
    match bit-for-bit."""
    cent = vecs.filter(centroid_filter).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        _norm(F.col("v")).alias("ncv"),
    )
    codebook = cent.agg(F.collect_list(F.struct("c_id", "cv", "ncv")).alias("cb"))
    ranked = vecs.withColumn("nv", _norm(F.col("v"))).crossJoin(
        F.broadcast(codebook)
    ).select(
        "vec_id",
        "v",
        "nv",
        F.sort_array(
            F.transform(
                "cb",
                # centroid norms ride the codebook struct; the row norm is
                # a plain column — the transform body is down to one dot
                # (nv*ncv preserves the dot/(norm_a*norm_b) multiplication order).
                # Sort key: struct(csim, -c_id) DESCENDING == (csim desc,
                # c_id asc) via sort_array's codegen struct comparator —
                # the former custom-lambda comparator was interpreted per
                # COMPARISON (~c*log c boxed evals per row, the IVF hot
                # spot at sf1). `+ 0.0` normalizes a rounded -0.0 to +0.0
                # so Double.compare's -0.0 < 0.0 cannot split a tie the
                # SQL comparisons (and the DuckDB oracle) treat as equal;
                # csim is sort-key-only, never emitted.
                lambda c: F.struct(
                    (
                        F.round(
                            _dot(F.col("v"), c["cv"]) / (F.col("nv") * c["ncv"]), 6
                        )
                        + F.lit(0.0)
                    ).alias("csim"),
                    (-c["c_id"]).alias("neg_id"),
                    c["c_id"].alias("c_id"),
                ),
            ),
            asc=False,
        ).alias("cells_ranked"),
    )
    cells = ranked.select(
        "vec_id", "v", "nv", F.element_at("cells_ranked", 1)["c_id"].alias("cell")
    )
    queries = ranked.filter(query_filter).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("qn"),
        F.explode(
            F.transform(F.slice("cells_ranked", 1, nprobe), lambda s: s["c_id"])
        ).alias("cell"),
    )
    scored = (
        cells.join(F.broadcast(queries), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nv")), 3
            ).alias("cos3"),
        )
        .distinct()  # a neighbor sits in ONE cell, but keep the pair-dedup
        # explicit for the nprobe>cell-count edge
    )
    return _rank_topk(scored, k)


def q_sim_ann_ivf(spark, sf_dir):
    return ivf_topk(
        _vecs(spark, sf_dir),
        F.col("vec_id") % QUERY_MOD == 0,
        F.col("vec_id") % IVF_CENTROID_MOD == 1,
    )


ORACLE_SIM_ANN_IVF = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS c_id, v AS cv FROM vecs WHERE vec_id % {IVF_CENTROID_MOD} = 1),
    assign AS (
        SELECT x.vec_id, x.v, c.c_id,
               round(list_dot_product(x.v, c.cv) /
                     (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS csim
        FROM vecs x, cent c
    ),
    ranked_cells AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id ASC) AS rn
        FROM assign
    ),
    cells AS (SELECT vec_id, v, c_id AS cell FROM ranked_cells WHERE rn = 1),
    queries AS (
        SELECT vec_id AS q_id, v AS qv, c_id AS cell FROM ranked_cells
        WHERE vec_id % {QUERY_MOD} = 0 AND rn <= {IVF_NPROBE}
    ),
    scored AS (
        SELECT DISTINCT q.q_id, x.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, x.v) /
                     (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(x.v, x.v))), 3) AS cos3
        FROM cells x JOIN queries q ON x.cell = q.cell AND x.vec_id != q.q_id
    ),
    ranked AS (
        SELECT q_id, neighbor_id, cos3,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos3 DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
    )
    SELECT q_id, neighbor_id, rank, cos3 AS cos_sim
    FROM ranked WHERE rank <= {ANN_TOPK}
"""


QUERIES = {
    "sim_topk_brute": q_sim_topk_brute,
    "sim_ann_lsh": q_sim_ann_lsh,
    "sim_ann_ivf": q_sim_ann_ivf,
}
ORACLES = {
    "sim_topk_brute": ORACLE_SIM_TOPK_BRUTE,
    "sim_ann_lsh": ORACLE_SIM_ANN_LSH,
    "sim_ann_ivf": ORACLE_SIM_ANN_IVF,
}
