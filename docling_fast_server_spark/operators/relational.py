"""Relational operators — the control-plane dataflow of the reference,
re-expressed over DataFrames (SURVEY §2.3-2.6 inventory).

The reference's queue/job-store layer is a collection of filters,
projections, point lookups, dedups, aggregations and top-k scans over job
rows (src/services/queue_manager.py, job_db.py, redis_job_store.py,
src/routes/jobs.py). Rows are the queue here, so those operators become
plain Catalyst-optimized DataFrame ops over the synthetic tables. Every
query aliases its computed columns to match the DuckDB oracle exactly.

All queries take (spark, sf_dir) and load parquet directly so filters and
projections push into the scan (verify with .explain: PushedFilters /
ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # declared schema: no per-call footer inference (tables.read_table)
    from ..tables import read_table

    return read_table(spark, sf_dir, name)


# --- P5/A1: status histogram (queue_manager.py:853-858, jobs.py:114-118) --
def q_status_histogram(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# --- P7: retention/age predicate (queue_manager.py:804-819; job_db.py:241-260
# SQL `DELETE WHERE created_at < ?`) — expressed as the keep-side scan -----
def q_retention_keep(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts") >= F.lit("2024-01-04 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("kept"),
            F.round(F.sum("value"), 2).alias("kept_value"),
        )
    )


# --- T1/T4: recent-jobs top-k (queue_manager.py:889-900; job_db.py:262-271
# ORDER BY created_at DESC) — deterministic tiebreak on the key ------------
def q_recent_topk(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


# --- T2: log merge-sort, oldest 20 (src/routes/jobs.py:122-137) -----------
def q_log_head(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .limit(20)
        .select("event_id", "ts", "event_type")
    )


# --- P3/P4: result projection + truncation (queue_manager.py:325-401:
# truncate strings >500, derive total_characters / previews) ---------------
def q_result_projection(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 200).alias("preview"),
        F.length("text").cast("long").alias("total_characters"),
        (F.floor(F.length("text") / 2000) + 1).cast("long").alias("pages_est"),
    )


# --- A2/A3: character/page aggregates per group (queue_manager.py:381-388) -
def q_char_agg(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.length("text")).cast("long").alias("total_characters"),
            F.max(F.floor(F.length("text") / 2000) + 1).cast("long").alias("max_pages_est"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )


# --- A7: per-group duration stats (tests/test_concurrent.py:101-119) ------
def q_grouped_stats(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


# --- J3: key lookup joins -> broadcast dim joins (queue_manager.py:691-716
# point lookup becomes a broadcast hash join of small dims) ----------------
def q_region_revenue(spark, sf_dir):
    """Revenue per region: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.
    nation/region are tiny -> broadcast; customer at 100TB scale is
    bucket/shuffle-joined on the key. Aliased for the oracle."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.round(F.sum("rev"), 1).alias("revenue"), F.count(F.lit(1)).cast("long").alias("n_items"))
    )


# --- the TPC-H Q1-shaped pricing summary (the A-class showpiece; also the
# reference's A1/A2 histogram+sum pattern at data scale) --------------------
def q_pricing_summary(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 1).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 1).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


# --- T5: size-band selection (test_runpod_medium_ocr.py:25-37: the
# 200-400 band; min-size pick of test_runpod_small_ocr.py:26) ---------------
def q_size_band(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .filter((F.col("n_chars") >= 200) & (F.col("n_chars") <= 400))
        .orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
        .limit(5)
        .select("doc_id", "n_chars")
    )


# --- J4: tracked ∩ recent (test_batch_processing.py:225-238) ---------------
def q_tracked_intersection(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    tracked = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return (
        ev.join(tracked, "user_id", "inner")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col("user_id").asc())
        .limit(10)
    )


# --- semi-join: users with at least one error event (EXISTS shape;
# the find-jobs-in-state lookup generalized) -------------------------------
def q_users_with_errors(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    return (
        ev.join(err, "user_id", "left_semi")
        .groupBy()
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


# --- anti-join: orders with no lineitems (orphan detection — the
# cleanup_foreign_jobs shape, queue_manager.py:125-161) ---------------------
def q_orders_without_items(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return (
        o.join(li, "o_orderkey", "left_anti")
        .groupBy()
        .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
    )


# --- HAVING: customers with heavy order volume ------------------------------
def q_heavy_customers(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 1).alias("spend"),
        )
        .filter(F.col("n_orders") >= 20)
        .orderBy(F.col("n_orders").desc(), F.col("o_custkey").asc())
        .limit(20)
    )


# --- window function: per-user running event count (T2 generalized;
# the engine's window machinery beyond chunking) ----------------------------
def q_user_event_sequence(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .withColumn("seq", F.row_number().over(w).cast("int"))
        .filter(F.col("seq") <= 3)
        .select("user_id", "seq", "event_id", "event_type")
    )


# --- sessionization: gap-based event sessions (the batch form of a
# session window — SURVEY §2.9 maps stream semantics to batch) -------------
def q_sessionize(spark, sf_dir):
    """Sessions = per-user event runs split at gaps > 30 min.
    Output: (user_id, session_idx, n_events, first_event_id, duration_sec).
    Pure integer/timestamp arithmetic — bit-exact across engines."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_idx",
            (F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast("int"),
        )
    )
    return ev.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("duration_sec"),
    )


# --- J1: dedup by client job_id — duplicate submission suppression
# (ocr.py:96-103 -> 409 echo; tested scripts/test_api_shape.py:69-81).
# Simulated duplicate submission: the corpus unioned with itself ---------
def q_dedup_submit_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    resubmitted = docs.unionByName(docs)
    return (
        resubmitted.dropDuplicates(["doc_id"])
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unique"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


# --- P1/P2: input validation predicates (ocr.py:21-22 extension check,
# 35-37 method whitelist) — raw-corpus format/kind histogram, the
# "what did we ingest" validation scan --------------------------------------
def q_kind_validation(spark, sf_dir):
    from ..corpus import docs_raw

    raw = docs_raw(spark, sf_dir, which="all")
    return (
        raw.select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("raw_kind"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_spans"))
    )


ORACLES = {
    "sessionize": """
        WITH marked AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
          SELECT user_id, event_id, ts,
                 CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS INTEGER) AS session_idx
          FROM marked
        )
        SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
               min(event_id) AS first_event_id,
               CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
        FROM sess GROUP BY user_id, session_idx
    """,
    "users_with_errors": """
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE user_id IN (
            SELECT user_id FROM events WHERE event_type = 'error')
    """,
    "orders_without_items": """
        SELECT CAST(count(*) AS BIGINT) AS n_orphans
        FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
    """,
    "heavy_customers": """
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 1) AS spend
        FROM orders GROUP BY o_custkey HAVING count(*) >= 20
        ORDER BY n_orders DESC, o_custkey ASC LIMIT 20
    """,
    "user_event_sequence": """
        SELECT user_id, seq, event_id, event_type FROM (
            SELECT user_id, event_id, event_type,
                   CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS seq
            FROM events)
        WHERE seq <= 3
    """,
    "dedup_submit_id": """
        SELECT CAST(count(*) AS BIGINT) AS n_unique,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM (SELECT DISTINCT doc_id, n_chars FROM
              (SELECT doc_id, n_chars FROM documents
               UNION ALL SELECT doc_id, n_chars FROM documents))
    """,
    "kind_validation": """
        WITH src AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        par AS (
          SELECT doc_id, w, CAST(g.i AS BIGINT) AS i
          FROM src, (SELECT unnest(range(256)) AS i) g
          WHERE g.i * 10 < len(w)
        )
        SELECT 'html' AS raw_kind, CAST(count(*) AS BIGINT) AS n_spans
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 'pdf_cell', CAST(
            sum(CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END) + count(*)
          + sum(CASE WHEN i % 5 = 4 AND len(w) >= i*10+2 THEN 1 ELSE 0 END)
          + sum(CASE WHEN i % 13 = 7 AND len(w) >= i*10+2 THEN 1 ELSE 0 END)
          + sum(CASE WHEN i % 9 = 5 AND len(w) >= i*10+3 THEN 1 ELSE 0 END)
          AS BIGINT)
        FROM par WHERE doc_id % 2 = 1
        UNION ALL
        SELECT 'pdf_image', CAST(sum(CASE WHEN (doc_id+i) % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM par WHERE doc_id % 2 = 1
        UNION ALL
        SELECT 'pdf_table', CAST(sum(CASE WHEN (doc_id+i) % 11 = 3 THEN 1 ELSE 0 END) AS BIGINT)
        FROM par WHERE doc_id % 2 = 1
    """,
    "status_histogram": """
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    """,
    "retention_keep": """
        SELECT event_type, CAST(count(*) AS BIGINT) AS kept,
               round(sum(value), 2) AS kept_value
        FROM events WHERE ts >= TIMESTAMP '2024-01-04 00:00:00'
        GROUP BY event_type
    """,
    "recent_topk": """
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 10
    """,
    "log_head": """
        SELECT event_id, ts, event_type
        FROM events ORDER BY ts ASC, event_id ASC LIMIT 20
    """,
    "result_projection": """
        SELECT doc_id, substring(text, 1, 200) AS preview,
               CAST(length(text) AS BIGINT) AS total_characters,
               CAST(length(text) // 2000 + 1 AS BIGINT) AS pages_est
        FROM documents
    """,
    "char_agg": """
        SELECT source, CAST(sum(length(text)) AS BIGINT) AS total_characters,
               CAST(max(length(text) // 2000 + 1) AS BIGINT) AS max_pages_est,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    """,
    "grouped_stats": """
        SELECT event_type, round(avg(value), 4) AS avg_value,
               round(min(value), 4) AS min_value,
               round(max(value), 4) AS max_value,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    """,
    "region_revenue": """
        SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 1) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 1) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 6) AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "size_band": """
        SELECT doc_id, n_chars FROM documents
        WHERE n_chars BETWEEN 200 AND 400
        ORDER BY n_chars ASC, doc_id ASC LIMIT 5
    """,
    "tracked_intersection": """
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE user_id IN (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        GROUP BY user_id
        ORDER BY n_events DESC, user_id ASC LIMIT 10
    """,
}

QUERIES = {
    "sessionize": q_sessionize,
    "users_with_errors": q_users_with_errors,
    "orders_without_items": q_orders_without_items,
    "heavy_customers": q_heavy_customers,
    "user_event_sequence": q_user_event_sequence,
    "dedup_submit_id": q_dedup_submit_id,
    "kind_validation": q_kind_validation,
    "status_histogram": q_status_histogram,
    "retention_keep": q_retention_keep,
    "recent_topk": q_recent_topk,
    "log_head": q_log_head,
    "result_projection": q_result_projection,
    "char_agg": q_char_agg,
    "grouped_stats": q_grouped_stats,
    "region_revenue": q_region_revenue,
    "pricing_summary": q_pricing_summary,
    "size_band": q_size_band,
    "tracked_intersection": q_tracked_intersection,
}


# --- §2.7 grouping sets: ROLLUP over (event_type, user band) — subtotal +
# grand-total rows in one pass (partial-aggregated, no repeated scans) ------
def q_rollup_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_band", (F.col("user_id") % 10).cast("long")
    )
    # exact integer cents: per-row round then integer sum — immune to the
    # cross-engine .x5 double-rounding boundary a float sum+round can hit
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.rollup("event_type", "user_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(cents).cast("long").alias("total_cents"),
    )


# --- batch tumbling windows: 6h event-time buckets via integer epoch
# arithmetic (deterministic across engines; the batch twin of
# streaming/metrics.windowed_method_counts) --------------------------------
WINDOW_S = 6 * 3600


def q_event_window_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / WINDOW_S) * WINDOW_S).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy(bucket.alias("window_start"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(cents).cast("long").alias("total_cents"),
    )


QUERIES.update(
    {
        "rollup_stats": q_rollup_stats,
        "event_window_counts": q_event_window_counts,
    }
)

ORACLES.update(
    {
        "rollup_stats": """
            SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_band,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
            FROM events GROUP BY ROLLUP(event_type, user_id % 10)
        """,
        "event_window_counts": f"""
            SELECT CAST(floor(epoch(ts)) AS BIGINT) // {WINDOW_S} * {WINDOW_S} AS window_start,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
            FROM events GROUP BY 1, 2
        """,
    }
)


# --- deterministic hash sampling: the reproducible training-data sample
# (rand() samples differ across runs/retries; a hash sample is a pure
# function of the key, so every retry, engine and audit sees the same
# rows — the only sampling that survives task re-execution at scale) -------
SAMPLE_MIX = 2_654_435_761
SAMPLE_P = 1_000_003
SAMPLE_PCT_MOD = 10  # keep ~1/10


def sample_slot(col):
    """Deterministic sampling slot in [0, SAMPLE_PCT_MOD). The mix is
    pre-reduced mod SAMPLE_P BEFORE the multiply — (id % P) * (MIX % P)
    < 2^40 — so the slot is identical for ANY doc_id: a raw doc_id * MIX
    exceeds int64 once doc_id > ~3.5e9, where Spark wraps silently and
    DuckDB errors (the same bounded-mix discipline as dedup._uhash_sql).
    Mathematically equal to (doc_id * MIX) % P for every doc_id below the
    overflow point, so the sample itself is unchanged."""
    return ((col % SAMPLE_P) * (SAMPLE_MIX % SAMPLE_P) % SAMPLE_P) % SAMPLE_PCT_MOD


def q_sample_hash(spark, sf_dir):
    """Keep the ~1/SAMPLE_PCT_MOD hash sample (see sample_slot)."""
    docs = _t(spark, sf_dir, "documents")
    slot = sample_slot(F.col("doc_id"))
    return (
        docs.filter(slot == 0)
        .select("doc_id", F.length("text").cast("long").alias("n_chars"))
    )


# --- exact order statistics: per-group median via row_number (the
# percentile_disc shape) — an integer row CHOICE, not a float
# interpolation, so both engines pick the identical element -----------------
def q_grouped_median(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_type", cents.alias("cents"), "event_id")
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = base.withColumn("rn", F.row_number().over(w))
    sizes = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(sizes, "event_type")
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(
            "event_type",
            F.col("cents").alias("median_cents"),
            F.col("n").cast("long").alias("n_events"),
        )
    )


QUERIES.update(
    {
        "sample_hash": q_sample_hash,
        "grouped_median": q_grouped_median,
    }
)

ORACLES.update(
    {
        "sample_hash": f"""
            SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
            FROM documents
            WHERE ((doc_id % {SAMPLE_P}) * {SAMPLE_MIX % SAMPLE_P} % {SAMPLE_P}) % {SAMPLE_PCT_MOD} = 0
        """,
        "grouped_median": """
            WITH ranked AS (
              SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, event_id,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM events
            )
            SELECT event_type, cents AS median_cents, CAST(n AS BIGINT) AS n_events
            FROM ranked WHERE rn = (n + 1) // 2
        """,
    }
)
