"""Hard-crash durability: a writer REALLY killed (SIGKILL, no Python
cleanup) mid-commit must leave the table recoverable by the normal
protocol — the next commit GCs its unmanifested files, the orphan sweep
reclaims its staged scratch, and a replay commits exactly once.

The other merge tests simulate crashes by copying files; this one boots
a real writer subprocess and kills it dead at the worst point (data
files renamed into the table, manifest NOT yet published — the window
step 4 of the protocol docstring calls out)."""

import os
import signal
import subprocess
import sys
import textwrap
import time

from pyspark.sql import functions as F

from docling_fast_server_spark.sources.io import _read_manifests, merge_append_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CRASH_WRITER = textwrap.dedent(
    """
    import os, signal, sys
    sys.path.insert(0, {repo!r})
    from docling_fast_server_spark.session import get_spark
    from docling_fast_server_spark.sources import io as io_mod

    # die INSIDE the commit window: after the staged data files are
    # renamed into the table, immediately before the manifest publish
    def _die(*a, **k):
        os.kill(os.getpid(), signal.SIGKILL)

    io_mod._write_manifest = _die
    spark = get_spark("crash-writer", cores=2, shuffle_partitions=2)
    from pyspark.sql import functions as F
    df = spark.range(40).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.lit("crash").alias("v"),
    )
    io_mod.merge_append_table(df, {path!r})
    print("UNREACHABLE")  # the kill must pre-empt this
    """
)


def test_sigkilled_writer_mid_commit_recovers(spark, tmp_path):
    out = str(tmp_path / "t")
    a = spark.createDataFrame([(f"k{i}", i) for i in range(5)], "doc_id string, v int")
    assert merge_append_table(a, out) == 5

    proc = subprocess.run(
        [sys.executable, "-c", _CRASH_WRITER.format(repo=REPO, path=out)],
        capture_output=True,
        text=True,
        timeout=240,
    )
    # SIGKILL'd: negative returncode, and the post-commit line never ran
    assert proc.returncode == -signal.SIGKILL, (proc.returncode, proc.stderr[-500:])
    assert "UNREACHABLE" not in proc.stdout

    # the dead writer left unmanifested merge-* files in the table (its
    # scratch was already consumed by the renames at this kill point)
    # and DIED HOLDING THE COMMIT LOCK with its heartbeat stopped
    committed = {
        f for e in _read_manifests(os.path.join(out, "_commits")) for f in e["files"]
    }
    orphans = [
        f
        for f in os.listdir(out)
        if f.startswith("merge-") and f.endswith(".parquet") and f not in committed
    ]
    assert orphans, "expected the killed writer's unmanifested data files"
    lock = os.path.join(out, "_commits", ".lock")
    assert os.path.isdir(lock), "expected the dead writer's abandoned lock"
    # age the lock past the staleness horizon (the steal machinery is
    # what recovery exercises; waiting LOCK_STALE_S for real is the only
    # difference) — same technique as test_stale_lock_is_stolen
    old_t = time.time() - 3600
    os.utime(lock, (old_t, old_t))

    # manifest-driven readers never saw the phantoms; the next commit
    # GCs them so plain readers converge too, and a full replay of the
    # crashed payload commits EXACTLY once (nothing was half-committed)
    spark.catalog.refreshByPath(out)
    b = spark.createDataFrame([("k5", 5)], "doc_id string, v int")
    assert merge_append_table(b, out) == 1
    replay = spark.range(40).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"), F.lit("crash").alias("v")
    )
    assert merge_append_table(replay, out) == 40
    assert merge_append_table(replay, out) == 0  # idempotent after recovery

    back = spark.read.parquet(out)
    assert back.count() == 5 + 1 + 40
    assert back.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    # the killed writer's data files were GC'd, its stolen lock released
    assert not os.path.exists(lock)
    for f in orphans:
        assert not os.path.exists(os.path.join(out, f))


_LOCK_HOLDER_VICTIM = textwrap.dedent(
    """
    import os, signal, sys
    sys.path.insert(0, {repo!r})
    from docling_fast_server_spark.session import get_spark
    from docling_fast_server_spark.sources import io as io_mod

    # die INSIDE the lock, BEFORE any rename: the worst spot for a
    # concurrent writer — lock abandoned AND both staging dirs orphaned
    def _die(*a, **k):
        os.kill(os.getpid(), signal.SIGKILL)

    io_mod._gc_uncommitted = _die
    spark = get_spark("race-victim", cores=2, shuffle_partitions=2)
    from pyspark.sql import functions as F
    df = spark.range(40).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.lit("crash").alias("v"),
    )
    io_mod.merge_append_table(df, {path!r})
    print("UNREACHABLE")
    """
)


def test_two_process_race_survivor_steals_dead_writers_lock(spark, tmp_path):
    """r5 verdict item 6 — the steal + GC + keepalive machinery's full
    contract in ONE live test: two OS processes race the same table, one
    is SIGKILLed while HOLDING the commit lock (staging dirs still on
    disk, nothing renamed). The survivor, waiting on the lock in this
    process, must steal it once stale and commit EXACTLY once; the
    victim contributes zero phantom rows; its orphaned staging is swept;
    a replay of its payload later commits exactly once."""
    from docling_fast_server_spark.sources import io as io_mod

    out = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [(f"k{i}", i) for i in range(5)], "doc_id string, v int"
    )
    assert merge_append_table(seed, out) == 5

    lock = os.path.join(out, "_commits", ".lock")
    proc = subprocess.Popen(
        [sys.executable, "-c", _LOCK_HOLDER_VICTIM.format(repo=REPO, path=out)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        deadline = time.time() + 180
        while not os.path.isdir(lock):  # victim acquired the lock yet?
            assert time.time() < deadline, "victim never took the lock"
            assert proc.poll() is None or proc.returncode == -signal.SIGKILL
            time.sleep(0.2)

        # survivor: contend LIVE with a short staleness horizon so the
        # steal happens inside the test (the machinery under test is the
        # same; only the clock is compressed)
        old_stale = io_mod.LOCK_STALE_S
        io_mod.LOCK_STALE_S = 5
        try:
            survivor = spark.createDataFrame(
                [(f"s{i}", i) for i in range(10)], "doc_id string, v int"
            )
            committed = merge_append_table(survivor, out)
        finally:
            io_mod.LOCK_STALE_S = old_stale
        assert committed == 10  # exactly once, via a genuine steal
    finally:
        proc.kill()
        stdout, _ = proc.communicate(timeout=60)
    assert proc.returncode == -signal.SIGKILL
    assert "UNREACHABLE" not in stdout

    # no phantom rows from the dead writer, no duplicates anywhere
    spark.catalog.refreshByPath(out)
    back = spark.read.parquet(out)
    assert back.count() == 15
    # the victim's payload (doc_ids d0..d39) never landed
    assert back.filter(F.col("doc_id").startswith("d")).count() == 0
    assert back.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0

    # the victim's staging dirs are orphaned siblings; age them past the
    # sweep horizon and reclaim (keepalive protected only LIVE waiters)
    parent = os.path.dirname(out.rstrip("/"))
    orphans = [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if d.startswith(("dfss-stage-", "dfss-kstage-"))
    ]
    assert orphans, "expected the dead writer's orphaned staging dirs"
    old_t = time.time() - 10 * 3600
    for d in orphans:
        os.utime(d, (old_t, old_t))
        for f in os.listdir(d):  # the sweep gates on the NEWEST mtime,
            os.utime(os.path.join(d, f), (old_t, old_t))  # files included
    from docling_fast_server_spark.sources.io import remove_orphan_staging

    assert remove_orphan_staging(out) >= len(orphans) or all(
        not os.path.exists(d) for d in orphans
    )
    for d in orphans:
        assert not os.path.exists(d)

    # replaying the victim's doc_ids commits exactly once (schema-aligned
    # with the survivor's int column — the victim itself never wrote)
    replay = spark.range(40).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.lit(999).cast("int").alias("v"),
    )
    assert merge_append_table(replay, out) == 40
    assert merge_append_table(replay, out) == 0
    assert spark.read.parquet(out).count() == 55


def test_resume_reextracts_docs_a_crashed_writer_left_unmanifested(spark, sf_dir, tmp_path):
    """A writer killed between its data-file renames and its manifest
    publish leaves `merge-*` files whose rows no manifest commits (the
    state test_sigkilled_writer_mid_commit_recovers produces; here the
    dead writer's files are copied in). A resume must treat those
    documents as NOT committed: its own commit GCs the files, so a
    resume that skipped their documents would lose them. Every document
    ends up committed exactly once, and the lineage counts each once."""
    import shutil

    from docling_fast_server_spark.corpus import docs_raw
    from docling_fast_server_spark.plans.pipeline import run_extraction

    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    raw = docs_raw(spark, sf_dir, which="all")
    total = raw.count()
    half = raw.filter(F.col("doc_id") < "doc-000250")
    n_half = half.count()
    run_extraction(spark, half, out, lin, run_id="half", partitions=4)

    # the dead writer: 50 other documents, extracted and renamed into the
    # table under merge-* names, manifest never published
    dead = str(tmp_path / "dead")
    orphan_docs = raw.filter(F.col("doc_id").between("doc-000250", "doc-000299"))
    assert orphan_docs.count() == 50
    run_extraction(spark, orphan_docs, dead, str(tmp_path / "dead_lineage"),
                   run_id="dead", partitions=2)
    for f in os.listdir(dead):
        if f.startswith("merge-") and f.endswith(".parquet"):
            shutil.copy(os.path.join(dead, f), os.path.join(out, f"merge-deadbeef0000-{f}"))
    spark.catalog.refreshByPath(out)
    assert spark.read.parquet(out).count() == n_half + 50  # a plain read sees them

    run_extraction(spark, raw, out, lin, run_id="resume", partitions=4)
    spark.catalog.refreshByPath(out)
    back = spark.read.parquet(out)
    assert back.count() == total
    assert back.select("doc_id").distinct().count() == total
    assert not [f for f in os.listdir(out) if f.startswith("merge-deadbeef0000-")]
    docs = spark.read.parquet(lin).agg(F.sum("doc_count")).collect()[0][0]
    assert docs == total
