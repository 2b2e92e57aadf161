"""MERGE-grade idempotency: overlapping writers cannot double-append.

The reference returns 409 on duplicate job ids and writes the job store
atomically (ocr.py:96-103, queue_manager.py:917-929). The anti-join
resume closes re-runs that START after a commit; merge_append_table
closes the remaining race where two runs both snapshot the table before
either commits."""

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from docling_fast_server_spark.corpus import docs_raw
from docling_fast_server_spark.plans.pipeline import run_extraction
from docling_fast_server_spark.sources.io import merge_append_table


def _dup_count(spark, path):
    df = spark.read.parquet(path)
    return df.groupBy("doc_id").count().filter(F.col("count") > 1).count()


def test_merge_append_drops_overlap(spark, tmp_path):
    out = str(tmp_path / "t")
    a = spark.createDataFrame([("d1", 1), ("d2", 2)], "doc_id string, v int")
    b = spark.createDataFrame([("d2", 99), ("d3", 3)], "doc_id string, v int")
    assert merge_append_table(a, out) == 2
    assert merge_append_table(b, out) == 1  # d2 dropped at commit time
    rows = {r["doc_id"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert rows == {"d1": 1, "d2": 2, "d3": 3}  # first writer's d2 wins
    assert merge_append_table(a, out) == 0  # full replay is a no-op


def test_concurrent_runs_no_duplicates(spark, sf_dir, tmp_path):
    """Two overlapping run_extraction calls racing on a fresh table:
    both see it empty (the anti-join protects neither), yet the commit
    protocol admits each doc_id exactly once."""
    out = str(tmp_path / "docs_out")
    lin = str(tmp_path / "lineage")
    raw = docs_raw(spark, sf_dir, which="all").localCheckpoint(eager=True)
    n_docs = raw.count()

    def run(run_id):
        return run_extraction(spark, raw, out, lin, run_id=run_id, partitions=4)

    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(run, "race-a")
        f2 = ex.submit(run, "race-b")
        f1.result(timeout=600)
        f2.result(timeout=600)

    committed = spark.read.parquet(out)
    assert committed.count() == n_docs
    assert _dup_count(spark, out) == 0


def test_sequential_rerun_still_noop(spark, sf_dir, tmp_path):
    """The classic resume path still holds with the merge commit."""
    out = str(tmp_path / "docs_out")
    lin = str(tmp_path / "lineage")
    raw = docs_raw(spark, sf_dir, which="html")
    run_extraction(spark, raw, out, lin, run_id="r1")
    n1 = spark.read.parquet(out).count()
    run_extraction(spark, raw, out, lin, run_id="r2")
    assert spark.read.parquet(out).count() == n1
    assert _dup_count(spark, out) == 0


def test_stale_lock_is_stolen(spark, tmp_path):
    """A lock left by a crashed writer must not deadlock the table:
    locks older than LOCK_STALE_S are stolen and the commit proceeds."""
    import os
    import time

    out = str(tmp_path / "t")
    os.makedirs(os.path.join(out, "_commits"), exist_ok=True)
    lock = os.path.join(out, "_commits", ".lock")
    os.mkdir(lock)
    old = time.time() - 3600
    os.utime(lock, (old, old))
    df = spark.createDataFrame([(f"d{i}", i) for i in range(3)], "doc_id string, v int")
    assert merge_append_table(df, out) == 3
    assert spark.read.parquet(out).count() == 3
    assert not os.path.exists(lock)


def test_merge_path_is_fully_distributed():
    """The committed-key check must never pass keys through the driver:
    no .collect() (and no createDataFrame rebuild) anywhere in io.py."""
    import inspect

    import docling_fast_server_spark.sources.io as io_mod

    src = inspect.getsource(io_mod)
    assert ".collect()" not in src
    assert "createDataFrame" not in src


def test_crashed_commit_files_are_gced(spark, tmp_path):
    """Files a crashed writer renamed in before publishing its manifest
    (merge-prefixed, unmanifested) are swept by the next commit, so
    plain spark.read.parquet readers stop seeing the phantom rows."""
    import os
    import shutil

    out = str(tmp_path / "t")
    a = spark.createDataFrame([("d1", 1), ("d2", 2)], "doc_id string, v int")
    assert merge_append_table(a, out) == 2
    committed_file = max(  # largest part file => definitely carries rows
        (f for f in os.listdir(out) if f.startswith("merge-") and f.endswith(".parquet")),
        key=lambda f: os.path.getsize(os.path.join(out, f)),
    )
    orphan = os.path.join(out, "merge-deadbeef0000-part-orphan.parquet")
    shutil.copy(os.path.join(out, committed_file), orphan)  # simulated crash
    spark.catalog.refreshByPath(out)
    assert spark.read.parquet(out).count() > 2  # phantom rows visible...
    b = spark.createDataFrame([("d3", 3)], "doc_id string, v int")
    assert merge_append_table(b, out) == 1  # ...until the next commit GCs
    assert not os.path.exists(orphan)
    assert spark.read.parquet(out).count() == 3


def test_compaction_preserves_merge_semantics(spark, tmp_path):
    """compact_table on a MERGE-committed table must keep the committed
    key set: a replay after compaction is still a no-op, and the
    snapshot log stays readable (round 2's swap destroyed _commits and
    re-admitted every key)."""
    from docling_fast_server_spark.sources.io import compact_table, list_snapshots

    out = str(tmp_path / "t")
    a = spark.createDataFrame([(f"d{i}", i) for i in range(8)], "doc_id string, v int")
    assert merge_append_table(a, out) == 8
    compact_table(spark, out, 2)
    assert spark.read.parquet(out).count() == 8
    assert merge_append_table(a, out) == 0  # keys survived the rewrite
    snaps = list_snapshots(out)
    assert snaps and snaps[-1]["n_keys"] == 8
    from docling_fast_server_spark.sources.io import read_table_asof

    assert read_table_asof(spark, out, snaps[-1]["seq"]).count() == 8


def test_retention_delete_readmits_deleted_keys(spark, tmp_path):
    """Row-level DELETE on a merge table removes the rows AND their keys
    (Iceberg semantics: a later MERGE re-inserts a deleted key)."""
    from docling_fast_server_spark.sources.io import retention_delete

    out = str(tmp_path / "t")
    a = spark.createDataFrame([(f"d{i}", i) for i in range(6)], "doc_id string, v int")
    assert merge_append_table(a, out) == 6
    n_del = retention_delete(spark, out, "v >= 3")
    assert n_del == 3
    assert merge_append_table(a, out) == 3  # deleted keys re-admit; kept keys don't
    assert spark.read.parquet(out).count() == 6
    assert _dup_count(spark, out) == 0


def test_compaction_does_not_promote_crashed_commit_orphans(spark, tmp_path):
    """A crashed writer's unmanifested merge-* files must NOT be swept
    into the base manifest when the table is compacted: the rewrite
    reads manifested files only (after GC), so the phantom rows vanish
    instead of becoming permanently committed duplicates."""
    import os
    import shutil

    from docling_fast_server_spark.sources.io import compact_table

    out = str(tmp_path / "t")
    a = spark.createDataFrame([(f"d{i}", i) for i in range(4)], "doc_id string, v int")
    assert merge_append_table(a, out) == 4
    committed_file = max(
        (f for f in os.listdir(out) if f.startswith("merge-") and f.endswith(".parquet")),
        key=lambda f: os.path.getsize(os.path.join(out, f)),
    )
    orphan = os.path.join(out, "merge-deadbeef0000-part-orphan.parquet")
    shutil.copy(os.path.join(out, committed_file), orphan)  # simulated crash
    compact_table(spark, out, 2)
    assert spark.read.parquet(out).count() == 4  # phantoms not promoted
    assert _dup_count(spark, out) == 0
    assert merge_append_table(a, out) == 0  # replay still a no-op


def _spy_lock(monkeypatch, before=None):
    """Count driver-side ACTION calls (count, parquet write) made while
    each commit lock is held, one entry per lock hold (jobs are the wrong
    unit: AQE splits one action into several jobs). `before`, if given,
    runs once just before the first lock is taken: it lands in the gap
    between a writer's staging and its commit, and may itself commit."""
    from contextlib import contextmanager

    # the classic DataFrame overrides count: patching the base class
    # would count nothing
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from docling_fast_server_spark.sources import io as io_mod

    real = io_mod._commit_lock
    counts = []
    pending = [before] if before else []
    real_count, real_pq = DataFrame.count, DataFrameWriter.parquet

    @contextmanager
    def spy(commits_dir, keepalive=()):
        if pending:
            pending.pop()()  # its own commits find `pending` empty
        calls = {"n": 0}

        def counting(df_self):
            calls["n"] += 1
            return real_count(df_self)

        def counting_pq(w_self, p, **kw):
            calls["n"] += 1
            return real_pq(w_self, p, **kw)

        with real(commits_dir, keepalive=keepalive) as held:
            DataFrame.count, DataFrameWriter.parquet = counting, counting_pq
            try:
                yield held
            finally:
                DataFrame.count, DataFrameWriter.parquet = real_count, real_pq
        counts.append(calls["n"])

    monkeypatch.setattr(io_mod, "_commit_lock", spy)
    return counts


def test_lock_holds_at_most_one_spark_action(spark, sf_dir, tmp_path, monkeypatch):
    """Round-4 verdict item 4: staged-data Spark work happens BEFORE the
    commit lock; under the lock the only action is the overlap count (0
    on a first commit), so lock hold time no longer scales with staged
    data. A resume through run_extraction takes none: it anti-joined the
    key files its commit finds listed."""
    from docling_fast_server_spark.sources import io as io_mod

    counts = _spy_lock(monkeypatch)
    path = str(tmp_path / "t")
    d1 = spark.range(200).select(F.col("id").alias("doc_id"), F.lit("a").alias("v"))
    assert io_mod.merge_append_table(d1, path) == 200
    # overlapping second writer: triggers the optimistic retry path
    d2 = spark.range(100, 300).select(F.col("id").alias("doc_id"), F.lit("b").alias("v"))
    assert io_mod.merge_append_table(d2, path) == 100
    assert counts, "lock spy never engaged"
    # first commit: 0 actions under the lock; overlap attempts: exactly
    # the one overlap count each
    assert counts[0] == 0 and all(c <= 1 for c in counts), counts
    back = spark.read.parquet(path)
    assert back.count() == 300
    assert back.select("doc_id").distinct().count() == 300

    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    raw = docs_raw(spark, sf_dir, which="html")
    run_extraction(spark, raw.filter(F.col("doc_id") < "doc-000250"), out, lin, run_id="c")
    del counts[:]
    run_extraction(spark, raw, out, lin, run_id="r")
    assert counts == [0], counts
    assert _dup_count(spark, out) == 0
    assert spark.read.parquet(out).count() == raw.count()


def _resume_with_gap(spark, tmp_path, monkeypatch, commits, gap):
    """Commit the (lo, hi) key ranges in `commits`, take the committed
    key snapshot, anti-join d0-d29 against it and commit the rest with
    the snapshot while `gap(path)` lands between staging and the lock.
    Returns (the commit's result, the actions of each of its lock
    holds, the table path)."""
    from pyspark.sql.types import StringType, StructField

    from docling_fast_server_spark.sources.io import committed_keys

    path = str(tmp_path / "t")

    def frame(lo, hi, v):
        return spark.createDataFrame([(f"d{i:02d}", v) for i in range(lo, hi)], "doc_id string, v string")

    for lo, hi in commits:
        merge_append_table(frame(lo, hi, "base"), path)
    keys, snapshot = committed_keys(spark, path, StructField("doc_id", StringType()))
    todo = frame(0, 30, "resume").join(keys, "doc_id", "left_anti")
    gap_end = []

    def run_gap():
        gap(path)
        gap_end.append(len(counts))  # the lock holds the gap itself took

    counts = _spy_lock(monkeypatch, before=run_gap)
    result = merge_append_table(todo, path, snapshot=snapshot)
    return result, counts[gap_end[0]:], path


def test_racing_commit_since_the_snapshot_runs_the_overlap_count(spark, tmp_path, monkeypatch):
    """A writer that commits overlapping keys after the resume's snapshot
    publishes a key file the snapshot does not list: the overlap count
    runs, the retry drops those keys (and counts nothing more: its
    rewrite anti-joined the racer's key file), and no key is doubled."""

    def racer(path):
        rows = [(f"d{i:02d}", "racer") for i in range(15, 25)]
        assert merge_append_table(spark.createDataFrame(rows, "doc_id string, v string"), path) == 10

    result, counts, path = _resume_with_gap(spark, tmp_path, monkeypatch, [(0, 10)], racer)
    assert counts == [1, 0], counts
    assert result == 10  # d10-d14 and d25-d29
    rows = {r["doc_id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert len(rows) == 30 and _dup_count(spark, path) == 0
    assert {rows[f"d{i}"] for i in range(15, 25)} == {"racer"}


def test_rollback_or_expiry_since_the_snapshot_keeps_the_skip(spark, tmp_path, monkeypatch):
    """A rollback only removes key files and expire_snapshots re-lists
    the same names, so the manifests still list nothing outside the
    snapshot: the commit runs no Spark action under its lock, and the
    table holds each key once."""
    from docling_fast_server_spark.sources.io import expire_snapshots, rollback_table

    for gap, n_rows in (
        (lambda path: rollback_table(spark, path, 1), 20),  # d0-d9 + d20-d29
        (lambda path: expire_snapshots(path, keep_last=0), 30),
    ):
        sub = tmp_path / str(n_rows)
        sub.mkdir()
        result, counts, path = _resume_with_gap(spark, sub, monkeypatch, [(0, 10), (10, 20)], gap)
        assert counts == [0], counts
        assert result == 10
        assert spark.read.parquet(path).count() == n_rows
        assert _dup_count(spark, path) == 0


def test_compaction_since_the_snapshot_runs_the_overlap_count(spark, tmp_path, monkeypatch):
    """compact_table publishes the same keys under new key-file names, so
    the snapshot no longer covers the listing and the count runs."""
    from docling_fast_server_spark.sources.io import compact_table

    result, counts, path = _resume_with_gap(
        spark, tmp_path, monkeypatch, [(0, 10)], lambda path: compact_table(spark, path, 1)
    )
    assert counts == [1], counts
    assert result == 20
    assert spark.read.parquet(path).count() == 30 and _dup_count(spark, path) == 0


def test_snapshot_of_another_table_is_refused(spark, tmp_path):
    from pyspark.sql.types import StringType, StructField

    import pytest

    from docling_fast_server_spark.sources.io import committed_keys

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    df = spark.createDataFrame([("d1", 1)], "doc_id string, v int")
    merge_append_table(df, a)
    merge_append_table(df, b)
    _keys, snapshot = committed_keys(spark, a, StructField("doc_id", StringType()))
    with pytest.raises(ValueError, match="does not describe"):
        merge_append_table(df, b, snapshot=snapshot)
    with pytest.raises(TypeError):
        merge_append_table(df, a, snapshot=frozenset())


def test_observed_counts_match_the_committed_rows(spark, tmp_path):
    """merge_append_table takes n_rows and n_keys from observers on its
    two staging writes instead of count actions. CommitResult, the
    manifest's n_keys and a read-back count of the commit's files must
    agree on duplicate doc_ids (n_rows != n_keys), an empty frame, a
    fully duplicate frame and the overlap-retry path."""
    import os

    from docling_fast_server_spark.sources.io import _read_manifests

    path = str(tmp_path / "t")
    commits = os.path.join(path, "_commits")

    def frame(ids, v):
        return spark.createDataFrame([(f"d{i}", v) for i in ids], "doc_id string, v string")

    def check(commit, n_rows, n_keys):
        assert commit == n_rows
        entry = [e for e in _read_manifests(commits) if e["commit_id"] == commit.commit_id]
        assert len(entry) == 1 and entry[0]["n_keys"] == n_keys
        back = spark.read.parquet(*[os.path.join(path, f) for f in commit.files])
        assert back.count() == n_rows
        assert back.select("doc_id").distinct().count() == n_keys

    check(merge_append_table(frame([0, 1, 1, 2, 3, 3], "a"), path), 6, 4)
    for empty in (frame([], "e"), frame([0, 1, 2, 3], "f")):  # empty, fully duplicate
        c = merge_append_table(empty, path)
        assert c == 0 and c.commit_id is None and c.files == []
        assert len(_read_manifests(commits)) == 1
    # keys 2 and 3 are committed: the overlap count trips and the retry
    # rewrites the staging without them, re-observing both counts
    check(merge_append_table(frame([2, 3, 4, 4, 5], "g"), path), 3, 2)
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).count() == 6 + 3


def test_no_scratch_leak_on_failure(spark, tmp_path, monkeypatch):
    """An in-process failure anywhere in the merge protocol must not
    strand sibling dfss-stage-*/dfss-kstage-* dirs next to the table."""
    from contextlib import contextmanager

    from pyspark.sql import functions as F

    from docling_fast_server_spark.sources import io as io_mod

    @contextmanager
    def boom(commits_dir, keepalive=()):
        raise RuntimeError("injected lock failure")
        yield  # pragma: no cover

    import os

    monkeypatch.setattr(io_mod, "_commit_lock", boom)
    path = str(tmp_path / "t")
    df = spark.range(50).select(F.col("id").alias("doc_id"), F.lit("x").alias("v"))
    import pytest

    with pytest.raises(RuntimeError, match="injected"):
        io_mod.merge_append_table(df, path)
    leftovers = [d for d in os.listdir(tmp_path) if d.startswith("dfss-")]
    assert leftovers == [], leftovers


def test_remove_orphan_staging_age_gated(tmp_path):
    import os
    import time

    from docling_fast_server_spark.sources import io as io_mod

    table = tmp_path / "t"
    table.mkdir()
    stale = tmp_path / "dfss-stage-stale"
    stale.mkdir()
    (stale / "part-0.parquet").write_bytes(b"x")
    fresh = tmp_path / "dfss-kstage-fresh"
    fresh.mkdir()
    (fresh / "part-0.parquet").write_bytes(b"y")
    old_t = time.time() - 10_000
    os.utime(stale, (old_t, old_t))
    os.utime(stale / "part-0.parquet", (old_t, old_t))
    assert io_mod.remove_orphan_staging(str(table), older_than_s=1200) == 1
    assert not stale.exists() and fresh.exists()


def test_lock_waiter_keepalive_touches_staging(tmp_path, monkeypatch):
    """A writer PARKED on the commit lock must keep refreshing its
    staging dirs' mtimes (ADVICE r04: a waiter queued past the orphan
    sweep's age gate lost its fully-written staging mid-wait)."""
    import os
    import threading
    import time

    from docling_fast_server_spark.sources import io as io_mod

    commits = str(tmp_path / "t" / "_commits")
    os.makedirs(commits)
    staging = tmp_path / "dfss-stage-waiter"
    staging.mkdir()
    old_t = time.time() - 10_000
    os.utime(staging, (old_t, old_t))

    monkeypatch.setattr(io_mod, "_HEARTBEAT_S", 0.05)
    # hold the lock so the keepalive'd writer has to wait
    holder = io_mod._commit_lock(commits)
    holder.__enter__()
    entered = threading.Event()

    def waiter():
        with io_mod._commit_lock(commits, keepalive=(str(staging),)):
            entered.set()

    t = threading.Thread(target=waiter, daemon=True)
    t.start()
    time.sleep(0.5)  # parked behind the held lock, heartbeating
    waiting_mtime = os.path.getmtime(staging)
    assert time.time() - waiting_mtime < 5, "waiter never refreshed staging"
    holder.__exit__(None, None, None)
    assert entered.wait(timeout=10)
    t.join(timeout=10)


def test_remove_orphan_staging_respects_dir_mtime(tmp_path):
    """The sweep's age gate takes the NEWEST of dir + file mtimes: a
    keepalive heartbeat only touches the dir, and that alone must keep
    a live waiter's staging safe even when its files are old."""
    import os
    import time

    from docling_fast_server_spark.sources import io as io_mod

    table = tmp_path / "t"
    table.mkdir()
    d = tmp_path / "dfss-stage-live-waiter"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x")
    old_t = time.time() - 10_000
    os.utime(d / "part-0.parquet", (old_t, old_t))  # files old, dir fresh
    assert io_mod.remove_orphan_staging(str(table), older_than_s=1200) == 0
    assert d.exists()
