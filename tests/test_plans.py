"""Physical-plan audits — the 100 TB design claims, checked on the
actual optimized plans (SURVEY §4 discipline):

- extraction is shuffle-free (no Exchange in the plan),
- exports add no Python evaluation (JVM-side only); chunking adds one
  Arrow kernel and no interpreted higher-order function,
- scans push filters and prune columns,
- small dims broadcast.
"""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    """explain('formatted') output — lists every node with its Input
    columns, so tests can assert WHAT each Exchange actually carries."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchange_inputs(formatted: str) -> list[str]:
    """The Input/Arguments lines of every Exchange-family node."""
    blocks = formatted.split("\n\n")
    out = []
    for b in blocks:
        lines = b.strip().splitlines()
        if lines and "Exchange" in lines[0] and lines[0].lstrip().startswith("("):
            out.append(b)
    return out


def test_extraction_plan_is_shuffle_free(spark, sf_dir):
    from docling_fast_server_spark.corpus import docs_raw
    from docling_fast_server_spark.operators.dispatch import extract_auto

    plan = _plan(extract_auto(docs_raw(spark, sf_dir)))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" not in plan  # r8: datagen is flat-column Arrow too
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan  # the
    # flat-column kernels (no per-span dicts cross the boundary)


def test_fused_extraction_single_python_node(spark, sf_dir):
    """The flagship extract_all runs ONE fused Python kernel (r8): no
    intermediate raw-span Arrow round trip, no Exchange."""
    from docling_fast_server_spark.queries import extract_all

    plan = _plan(extract_all(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert plan.count("MapInArrow") + plan.count("PythonMapInArrow") >= 1
    assert plan.count("_gen_extract") <= 1 and "MapInPandas" not in plan


def test_exports_stay_jvm_side(spark, sf_dir):
    """The export fan-out must not add any Python/Arrow eval beyond the
    two pipeline kernels (datagen + extraction)."""
    from docling_fast_server_spark.operators.exports import with_exports
    from docling_fast_server_spark.queries import extract_all

    base = _plan(extract_all(spark, sf_dir))
    full = _plan(with_exports(extract_all(spark, sf_dir)))
    assert full.count("MapInPandas") == base.count("MapInPandas")
    assert "BatchEvalPython" not in full
    assert "Exchange" not in full


def test_chunking_is_shuffle_free(spark, sf_dir):
    """The chunker is one mapInArrow kernel walking each document's span
    array once, so extract -> chunk is one narrow stage: exactly one
    MapInArrow node past extraction's; no Exchange, no Window, no Python
    UDF eval; and no interpreted higher-order function (ArrayAggregate,
    LambdaFunction — the in-array fold it replaced). (Rounds 1-2 exploded
    to rows and hash-partitioned the full span payload by doc_id.)"""
    import __spark_entry__ as e

    from docling_fast_server_spark.queries import extract_all

    base = _plan(extract_all(spark, sf_dir)).count("MapInArrow")
    for name in ("chunks", "chunks_bpe"):
        executed = e.queries()[name](spark, sf_dir)._jdf.queryExecution().executedPlan()
        plan, tree = executed.toString(), executed.toJSON()
        assert plan.count("MapInArrow") == base + 1, plan
        for node in ("Exchange", "Window", "BatchEvalPython"):
            assert node not in plan, (name, node, plan)
        for expr in ("ArrayAggregate", "LambdaFunction"):
            assert f'.{expr}"' not in tree, (name, expr)


def test_scan_pushdown(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1996-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double" in plan


def test_region_revenue_broadcasts_dims(spark, sf_dir):
    from docling_fast_server_spark.operators.relational import q_region_revenue

    plan = _plan(q_region_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at minimum


def test_fingerprint_plan_is_narrow(spark, sf_dir):
    """ts_fingerprint must be ONE narrow projection: no Exchange, no
    Window (round 1 funneled every distinct word through an unpartitioned
    dense_rank window), no Python eval."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["ts_fingerprint"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_minhash_plan_has_no_dictionary(spark, sf_dir, minhash_routes):
    """dedup_minhash signatures are narrow higher-order projections: no
    broadcast of a distinct-shingle relation (the round-1 rank
    dictionary stays gone), no Python eval. The ONLY Window allowed is
    the r6 per-bucket skew cap, recognizable by its (band, key)
    partition spec — any other Window would mean a dictionary or
    per-doc ranking crept back in. Checked on both minhash routes: the
    Spark route aggregates cliques, hot buckets and candidates in the
    plan; the driver route hands the plan its tagged and candidate
    frames as local relations."""
    import __spark_entry__ as e

    from docling_fast_server_spark.operators import dedup

    for route in minhash_routes():
        try:
            plan = _plan(e.queries()["dedup_minhash"](spark, sf_dir))
        finally:
            dedup.clear_caches(spark)
        for line in plan.splitlines():
            if "Window" in line:
                # also allowed: the clique-rep min window over the set-fold
                # pair (f1, f2) — the other r6 skew guard
                assert ("band" in line and "key" in line) or (
                    "f1" in line and "f2" in line
                ), line
        assert "BatchEvalPython" not in plan
        if route == "spark":
            assert "HashAggregate" in plan  # clique, hot-bucket, distinct
        else:
            assert "LocalTableScan" in plan, plan


def test_dedup_family_never_shuffles_text(spark, sf_dir):
    """The dedup module's core claim, checked on the physical plans: NO
    Exchange (hash, range, or broadcast) in ANY dedup query carries the
    raw `text` column. Wide ops move only int64 hashes, ids and counts —
    the shape that survives 100 TB (round 2 repartitioned the corpus
    before projecting to hash sets, shipping every document's text
    through the shuffle fabric)."""
    import re

    import __spark_entry__ as e

    qs = e.queries()
    for name in (
        "dedup_exact",
        "dedup_minhash",
        "dedup_simhash",  # the folded row runs signatures AND pairs
        "dedup_ngram_jaccard",
    ):
        fmt = _formatted(qs[name](spark, sf_dir))
        for block in _exchange_inputs(fmt):
            assert not re.search(r"\btext#", block), f"{name}: text rides an Exchange:\n{block}"


def test_vectors_never_ride_a_hash_exchange(spark, sf_dir):
    """Embedding operators must not ship vectors through shuffle fabric:
    LSH band keys are a narrow literal-plane projection (round 2
    crossJoined a plane table and re-grouped, shuffling bands*n vectors)
    and IVF cell ranking is a narrow broadcast-codebook array_sort
    (round 2 windowed by vec_id, two table-wide vector exchanges). Only
    broadcast of the tiny query/codebook side may carry vectors; in
    dedup_embedding the (band, key) candidate join is the one allowed
    vector-carrying partitioning."""
    import re

    import __spark_entry__ as e

    qs = e.queries()
    allowed_keys = {"dedup_embedding": ("band", "key")}
    for name in ("sim_topk_brute", "sim_ann_lsh", "sim_ann_ivf", "dedup_embedding"):
        fmt = _formatted(qs[name](spark, sf_dir))
        for block in _exchange_inputs(fmt):
            lines = block.strip().splitlines()
            if "BroadcastExchange" in lines[0]:
                continue  # tiny side by construction
            inp = next((l for l in lines if l.startswith("Input")), "")
            if re.search(r"\b(v|qv|cv)#", inp):
                arg = next((l for l in lines if l.startswith("Arguments")), "")
                keys = allowed_keys.get(name)
                assert keys and all(f"{k}#" in arg for k in keys), (
                    f"{name}: vectors ride a non-candidate-join Exchange:\n{block}"
                )


def test_binary_extraction_plan_is_shuffle_free(spark, sf_dir):
    """The bytes path (pack -> parse -> extract) stays a single narrow
    pipeline like the structured path."""
    from docling_fast_server_spark.corpus import docs_raw
    from docling_fast_server_spark.sources.binary_pack import extract_binary, pack_raw

    plan = _plan(extract_binary(pack_raw(docs_raw(spark, sf_dir))))
    assert "Exchange" not in plan, plan
    # only the fixture writer (pack_raw) is MapInPandas; datagen and
    # parse+extract are the flat-column Arrow kernels
    assert plan.count("MapInPandas") == 1
    assert plan.count("MapInArrow") + plan.count("PythonMapInArrow") == 2


def test_extraction_rows_use_no_pandas_kernel(spark, sf_dir):
    """Every extraction registry row runs the one Arrow dispatch kernel:
    no MapInPandas in the optimized plan, except the bytes row's fixture
    writer (pack_raw), which makes its input rather than extracting."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in (
        "extract_html_spans",
        "extract_pdf_spans",
        "extract_all_spans",
        "extract_binary_spans",
    ):
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        pandas_nodes = [l for l in plan.splitlines() if "MapInPandas" in l]
        allowed = 1 if name == "extract_binary_spans" else 0
        assert len(pandas_nodes) == allowed, f"{name}:\n{plan}"
        assert all("_pack_batches" in l for l in pandas_nodes), f"{name}:\n{plan}"


def test_serialization_readers_run_the_dispatch_kernel(spark):
    """The four serialization readers run the one extraction kernel:
    exactly one MapInArrow node, `_extract_auto_arrow`, and no
    MapInPandas."""
    from docling_fast_server_spark.operators import md_ingest as mi

    df = spark.createDataFrame([("d0", "x")], "doc_id string, payload string")
    for op in (mi.extract_markdown, mi.extract_doctags, mi.extract_json, mi.extract_html_export):
        plan = op(df, "payload")._jdf.queryExecution().optimizedPlan().toString()
        arrow_nodes = [l for l in plan.splitlines() if "MapInArrow" in l]
        assert len(arrow_nodes) == 1, f"{op.__name__}:\n{plan}"
        assert "_extract_auto_arrow" in arrow_nodes[0], f"{op.__name__}:\n{plan}"
        assert "MapInPandas" not in plan, f"{op.__name__}:\n{plan}"


def test_media_rows_use_no_pandas_kernel(spark, sf_dir):
    """The media registry rows (synthesis, features, transforms) run
    their kernels over Arrow batches: no MapInPandas in the optimized
    plan."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in ("media_inventory", "media_features", "media_transforms"):
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        assert "MapInPandas" not in plan, f"{name}:\n{plan}"
        assert "MapInArrow" in plan, f"{name}:\n{plan}"


def test_similarity_topk_pushdown_and_broadcasts(spark, sf_dir):
    """All three similarity strategies must keep the rank<=k pushdown
    (WindowGroupLimit) and add no row-at-a-time Python evaluation. The
    ANN strategies broadcast their small side; brute force scores in one
    Arrow kernel against the collected query rows, with no join at all."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in ("sim_topk_brute", "sim_ann_lsh", "sim_ann_ivf"):
        plan = _plan(qs[name](spark, sf_dir))
        assert "WindowGroupLimit" in plan, name
        assert "BatchEvalPython" not in plan, name
        if name == "sim_topk_brute":
            arrow_nodes = [l for l in plan.splitlines() if "MapInArrow" in l]
            assert len(arrow_nodes) == 1 and "_score_topk" in arrow_nodes[0], plan
            assert "BroadcastNestedLoopJoin" not in plan, plan
            assert "CartesianProduct" not in plan, plan
        else:
            assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, name
