"""The session's generated-class cache holds a corpus-prep pass's working
set: the second run of the same call sequence compiles no class.

Spark keys its Janino cache on the generated source, so a repeated plan
only recompiles when the cache evicted its class. At Spark's default of
100 entries a corpus-prep pass (exports, chunks, minhash pairs, connected
components, brute-force top-k) evicts its own classes and recompiles
about 175 of them every time; `session.get_spark` sizes the cache above
that working set.
"""

from docling_fast_server_spark.operators import dedup
from docling_fast_server_spark.operators.chunking import chunk_spans
from docling_fast_server_spark.operators.components import connected_components
from docling_fast_server_spark.operators.exports import with_exports
from docling_fast_server_spark.operators.similarity import q_sim_topk_brute
from docling_fast_server_spark.queries import CHUNK_BUDGET, extract_all


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _prep_pass(spark, sf_dir, spans, corpus):
    _noop(with_exports(spans).select("doc_id", "markdown", "html", "doctags", "doc_json"))
    _noop(chunk_spans(spans, budget=CHUNK_BUDGET, route="hof"))
    pairs, trip = dedup.minhash_pairs_with_diag(corpus)
    _noop(pairs)
    trip.collect()
    try:
        _noop(connected_components(pairs, checkpoint_interval=1))
    finally:
        dedup.clear_caches(spark)
    _noop(q_sim_topk_brute(spark, sf_dir))


def test_corpus_prep_second_pass_compiles_nothing(spark, sf_dir, tmp_path):
    """The corpus_prep call sequence over tables read back from parquet,
    as the benchmark runs it: the first run may compile, the second must
    find every generated class in the cache."""
    extract_all(spark, sf_dir).write.parquet(str(tmp_path / "spans"))
    dedup.mutated_corpus(spark, sf_dir).select("doc_id", "text").write.parquet(
        str(tmp_path / "corpus")
    )
    spans = spark.read.parquet(str(tmp_path / "spans"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    _prep_pass(spark, sf_dir, spans, corpus)
    before = _compiles(spark)
    _prep_pass(spark, sf_dir, spans, corpus)
    assert _compiles(spark) - before == 0
