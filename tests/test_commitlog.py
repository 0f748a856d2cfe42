"""Manifest commit log (streaming/commitlog.py) — the transactional
visibility layer for the file-based continuous aggregates: atomic
manifest append (CAS on the slot name), snapshot-isolated reads that
never merge torn/uncommitted directories, one-manifest compaction
swaps, and vacuum that only ever deletes non-live directories."""

from __future__ import annotations

import json
import os
from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.streaming import commitlog


def test_snapshot_folds_adds_and_removes(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    assert commitlog.snapshot(root) == []
    i0 = commitlog.commit(root, add=["batch_id=0"])
    i1 = commitlog.commit(root, add=["batch_id=1"])
    assert (i0, i1) == (0, 1)
    assert commitlog.snapshot(root) == ["batch_id=0", "batch_id=1"]
    i2 = commitlog.commit(
        root, add=["batch_id=-1"], remove=["batch_id=0", "batch_id=1"]
    )
    assert i2 == 2
    assert commitlog.snapshot(root) == ["batch_id=-1"]


def test_duplicate_add_is_a_noop(tmp_path):
    """foreachBatch replay re-commits the same add — no new manifest,
    no double entry in the snapshot."""
    root = str(tmp_path / "t")
    commitlog.commit(root, add=["batch_id=7"])
    assert commitlog.commit(root, add=["batch_id=7"]) is None
    assert commitlog.snapshot(root) == ["batch_id=7"]
    assert len(commitlog.log_entries(root)) == 1


def test_commit_retries_on_claimed_slot(tmp_path):
    """CAS on the slot name: a pre-claimed next index (a concurrent
    writer winning the race) makes commit retry the following one."""
    root = str(tmp_path / "t")
    commitlog.commit(root, add=["batch_id=0"])
    cd = os.path.join(root, "_commits")
    # simulate a rival writer owning slot 1
    with open(os.path.join(cd, "00000001.json"), "w") as f:
        json.dump({"add": ["batch_id=9"], "remove": []}, f)
    idx = commitlog.commit(root, add=["batch_id=2"])
    assert idx == 2
    assert commitlog.snapshot(root) == [
        "batch_id=0", "batch_id=2", "batch_id=9"
    ]


def test_vacuum_deletes_only_nonlive(tmp_path):
    root = str(tmp_path / "t")
    for d in ("batch_id=0", "batch_id=1", "batch_id=torn"):
        os.makedirs(os.path.join(root, d))
    commitlog.commit(root, add=["batch_id=0", "batch_id=1"])
    removed = commitlog.vacuum(root)
    assert removed == ["batch_id=torn"]
    assert sorted(os.listdir(root)) == [
        "_commits", "batch_id=0", "batch_id=1"
    ]


def test_vacuum_only_restricts_the_sweep(tmp_path):
    """Targeted vacuum (compaction's mode): deletes the named non-live
    directories and nothing else — an uncommitted directory outside the
    set (a possibly in-flight writer) survives, and a LIVE directory
    inside the set is still protected."""
    root = str(tmp_path / "t")
    for d in ("batch_id=0", "batch_id=1", "batch_id=2", "batch_id=inflight"):
        os.makedirs(os.path.join(root, d))
    commitlog.commit(root, add=["batch_id=0", "batch_id=2"])
    commitlog.commit(root, add=["batch_id=-1"], remove=["batch_id=0"])
    removed = commitlog.vacuum(
        root, only=["batch_id=0", "batch_id=1", "batch_id=2"]
    )
    # 0 removed (non-live, named), 1 removed (orphan, named),
    # 2 protected (live), inflight protected (not named)
    assert removed == ["batch_id=0", "batch_id=1"]
    assert sorted(os.listdir(root)) == [
        "_commits", "batch_id=2", "batch_id=inflight"
    ]


def test_replayed_add_after_compaction_stays_invisible(tmp_path):
    """Round-8 ADVICE: the no-op check is against EVER-added names.
    Compaction folds batch 1 away; an at-least-once re-delivery then
    re-commits add=[batch_id=1] — it must NOT resurrect the directory
    next to its copy inside the compacted one."""
    root = str(tmp_path / "t")
    commitlog.commit(root, add=["batch_id=0"])
    commitlog.commit(root, add=["batch_id=1"])
    commitlog.commit(
        root, add=["batch_id=-1"], remove=["batch_id=0", "batch_id=1"]
    )
    assert commitlog.commit(root, add=["batch_id=1"]) is None
    assert commitlog.snapshot(root) == ["batch_id=-1"]
    assert commitlog.ever_added(root) == {
        "batch_id=-1", "batch_id=0", "batch_id=1"
    }
    # a compaction-shaped manifest (non-empty remove) can still
    # re-introduce a name — the swap path is never blocked
    idx = commitlog.commit(
        root, add=["batch_id=-2"], remove=["batch_id=-1"]
    )
    assert idx == 3


def test_snapshot_time_travel(tmp_path):
    """as_of folds only manifests ≤ N — Delta's VERSION AS OF at
    directory granularity."""
    root = str(tmp_path / "t")
    commitlog.commit(root, add=["batch_id=0"])
    commitlog.commit(root, add=["batch_id=1"])
    commitlog.commit(
        root, add=["batch_id=-1"], remove=["batch_id=0", "batch_id=1"]
    )
    assert commitlog.snapshot(root, as_of=0) == ["batch_id=0"]
    assert commitlog.snapshot(root, as_of=1) == [
        "batch_id=0", "batch_id=1"
    ]
    assert commitlog.snapshot(root, as_of=2) == ["batch_id=-1"]
    assert commitlog.snapshot(root) == ["batch_id=-1"]


def _write_events(spark, src, rows, ids):
    spark.createDataFrame(
        [
            (i, datetime.fromisoformat(ts), et, v)
            for i, (ts, et, v) in zip(ids, rows)
        ],
        "event_id long, ts timestamp, event_type string, value double",
    ).coalesce(1).write.mode("append").parquet(src)


def _state(spark, roll):
    from nashville_etl_service_backup_spark.streaming.pipeline import (
        read_rollup,
    )

    return {
        (str(r["window_start"]), r["event_type"]): (r["n"], float(r["total"]))
        for r in read_rollup(spark, roll).collect()
    }


def test_committed_rollup_end_to_end(spark, tmp_path):
    """incremental_rollup: two micro-batch rounds plus a crash replay
    match the batch twin; a torn (uncommitted) partial is invisible to
    readers; compact_rollup swaps atomically in one manifest and
    vacuums the inputs; forget_from_rollup's retraction partial goes
    through the log too."""
    from nashville_etl_service_backup_spark.streaming.pipeline import (
        compact_rollup,
        forget_from_rollup,
        incremental_rollup,
    )

    src = str(tmp_path / "ev")
    roll = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    b1 = [
        ("2024-01-01T10:05:00", "click", 1.5),
        ("2024-01-01T10:40:00", "click", 2.0),
        ("2024-01-01T11:10:00", "view", 4.0),
    ]
    b2 = [
        ("2024-01-01T10:59:00", "click", 0.5),
        ("2024-01-01T09:30:00", "view", 3.25),
    ]
    _write_events(spark, src, b1, [1, 2, 3])
    incremental_rollup(spark, src, roll, ckpt).awaitTermination(120)
    _write_events(spark, src, b2, [4, 5])
    incremental_rollup(spark, src, roll, ckpt).awaitTermination(120)

    expected = {
        ("2024-01-01 10:00:00", "click"): (3, 4.0),
        ("2024-01-01 11:00:00", "view"): (1, 4.0),
        ("2024-01-01 09:00:00", "view"): (1, 3.25),
    }
    assert _state(spark, roll) == expected

    # time travel: manifest 0 is batch 1 alone — the pinned-version
    # read reproduces the pre-batch-2 state exactly
    as_of0 = {
        (str(r["window_start"]), r["event_type"]): (r["n"], float(r["total"]))
        for r in commitlog.read_committed(spark, roll, as_of=0)
        .groupBy("window_start", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        .collect()
    }
    assert as_of0 == {
        ("2024-01-01 10:00:00", "click"): (2, 3.5),
        ("2024-01-01 11:00:00", "view"): (1, 4.0),
    }

    # torn write: a directory with NO manifest is invisible
    spark.createDataFrame(
        [("2024-01-01 10:00:00", "click", 999, 999.0)],
        "window_start string, event_type string, n long, total double",
    ).write.mode("overwrite").parquet(f"{roll}/batch_id=999")
    assert _state(spark, roll) == expected

    # crash replay: drop the last checkpoint commit; the re-executed
    # batch rewrites its directory and its duplicate add is a no-op
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    incremental_rollup(spark, src, roll, ckpt).awaitTermination(120)
    assert _state(spark, roll) == expected

    # compaction: one-manifest swap, values identical, inputs vacuumed
    # TARGETED (the torn orphan is deliberately left — it could be an
    # in-flight writer's uncommitted batch; round-8 ADVICE); a full
    # vacuum with the stream stopped sweeps it
    n_manifests = len(commitlog.log_entries(roll))
    compact_rollup(spark, roll)
    assert _state(spark, roll) == expected
    assert len(commitlog.log_entries(roll)) == n_manifests + 1
    live = commitlog.snapshot(roll)
    assert live == ["batch_id=-1"]
    assert sorted(e for e in os.listdir(roll) if e != "_commits") == [
        "batch_id=-1", "batch_id=999"
    ]
    assert commitlog.vacuum(roll) == ["batch_id=999"]
    assert sorted(e for e in os.listdir(roll) if e != "_commits") == live

    # forget: retraction partial through the log; click event 2 erased
    tomb = spark.createDataFrame([(2,)], "event_id long")
    forget_from_rollup(spark, src, roll, tomb, forget_id=-100)
    got = _state(spark, roll)
    assert got[("2024-01-01 10:00:00", "click")] == (2, 2.0)
    compact_rollup(spark, roll)
    assert _state(spark, roll) == got
    assert commitlog.snapshot(roll) == ["batch_id=-2"]


def test_committed_cms_and_hll_ignore_torn_partials(spark, tmp_path):
    """The sketch sinks share the rollup's commit-log contract: the
    readers merge only manifest-committed partials, so a torn directory
    never corrupts counters/registers."""
    from nashville_etl_service_backup_spark.streaming.pipeline import (
        incremental_cms,
        incremental_hll,
        read_cms,
        read_hll,
    )

    src = str(tmp_path / "ev")
    # the sketch streams read a 5-column schema including user_id
    spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 5), "click", 1.5, 11),
            (2, datetime(2024, 1, 1, 10, 40), "view", 2.0, 22),
        ],
        "event_id long, ts timestamp, event_type string, value double, user_id long",
    ).coalesce(1).write.mode("overwrite").parquet(src)

    cms = str(tmp_path / "cms")
    hll = str(tmp_path / "hll")
    incremental_cms(
        spark, src, cms, str(tmp_path / "cckpt")
    ).awaitTermination(120)
    incremental_hll(
        spark, src, hll, str(tmp_path / "hckpt")
    ).awaitTermination(120)

    want_cms = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in read_cms(spark, cms).collect()
    }
    want_hll = {
        (r["event_type"], r["bucket"]): r["register"]
        for r in read_hll(spark, hll).collect()
    }
    assert want_cms and want_hll

    # torn partials: huge bogus counters/registers, never committed
    spark.createDataFrame(
        [(0, 0, 10**9)], "row_idx int, bucket int, cnt long"
    ).write.mode("overwrite").parquet(f"{cms}/batch_id=999")
    spark.createDataFrame(
        [("click", 0, 63)], "event_type string, bucket int, register int"
    ).write.mode("overwrite").parquet(f"{hll}/batch_id=999")

    got_cms = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in read_cms(spark, cms).collect()
    }
    got_hll = {
        (r["event_type"], r["bucket"]): r["register"]
        for r in read_hll(spark, hll).collect()
    }
    assert got_cms == want_cms
    assert got_hll == want_hll
    assert commitlog.vacuum(cms) == ["batch_id=999"]
    assert commitlog.vacuum(hll) == ["batch_id=999"]


def test_committed_lsh_gate_crash_replay_and_torn_store(spark, tmp_path):
    """incremental_lsh_dedup: verdicts and store hold across a crash
    replay, a torn signature partial never poisons the novelty probe,
    and both stores' manifests track exactly the processed batches."""
    from nashville_etl_service_backup_spark.streaming.pipeline import (
        incremental_lsh_dedup,
        read_dedup_audit,
    )

    src = str(tmp_path / "docs")
    sig = str(tmp_path / "sigs")
    audit = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run_gate():
        q = incremental_lsh_dedup(spark, src, sig, audit, ckpt)
        q.awaitTermination(120)
        q.stop()

    write([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different subject matter entirely here"),
    ])
    run_gate()

    # torn partial: a crashed writer's uncommitted signatures for a doc
    # whose bands WOULD collide with doc 3 — must not flag anything
    commitlog.read_committed(spark, sig).limit(2).write.mode(
        "overwrite"
    ).parquet(f"{sig}/batch_id=777")

    write([
        (3, "the quick brown fox jumps over the lazy dog"),  # dup of 1
        (4, "yet another wholly novel document body text"),
    ])
    run_gate()

    rows = {
        r["batch_id"]: (r["n_docs"], r["n_dup_candidates"])
        for r in read_dedup_audit(spark, audit).collect()
    }
    assert rows == {0: (2, 0), 1: (2, 1)}
    stored = {r["doc_id"] for r in commitlog.read_committed(spark, sig).collect()}
    assert stored == {1, 2, 4}
    assert commitlog.snapshot(sig) == ["batch_id=0", "batch_id=1"]
    assert commitlog.snapshot(audit) == ["batch_id=0", "batch_id=1"]

    # crash replay of batch 1: identical verdicts, no new manifests
    # beyond the no-op duplicate adds
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    n_sig, n_aud = (
        len(commitlog.log_entries(sig)),
        len(commitlog.log_entries(audit)),
    )
    run_gate()
    rows = {
        r["batch_id"]: (r["n_docs"], r["n_dup_candidates"])
        for r in read_dedup_audit(spark, audit).collect()
    }
    assert rows == {0: (2, 0), 1: (2, 1)}
    assert len(commitlog.log_entries(sig)) == n_sig
    assert len(commitlog.log_entries(audit)) == n_aud
    assert commitlog.vacuum(sig) == ["batch_id=777"]


def test_committed_bloom_gate_ignores_torn_positions(spark, tmp_path):
    """incremental_bloom_gate: an uncommitted torn position partial
    (which would make every key look already-seen) never reaches the
    probe."""
    from nashville_etl_service_backup_spark.streaming.pipeline import (
        incremental_bloom_gate,
        read_bloom_audit,
    )

    src = str(tmp_path / "docs")
    bloom = str(tmp_path / "bloom")
    audit = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    q = incremental_bloom_gate(spark, src, bloom, audit, ckpt)
    q.awaitTermination(120)
    q.stop()

    # torn partial saturating every position — uncommitted, invisible
    spark.range(4096).selectExpr("cast(id as int) as pos").write.mode(
        "overwrite"
    ).parquet(f"{bloom}/batch_id=888")

    spark.createDataFrame(
        [(1, "a"), (9, "z")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    q = incremental_bloom_gate(spark, src, bloom, audit, ckpt)
    q.awaitTermination(120)
    q.stop()

    rows = {
        r["batch_id"]: (r["n_docs"], r["n_flagged"])
        for r in read_bloom_audit(spark, audit).collect()
    }
    # key 1 repeats (flagged); key 9 is novel — the torn saturating
    # partial would have flagged it too
    assert rows == {0: (2, 0), 1: (2, 1)}
    assert commitlog.vacuum(bloom) == ["batch_id=888"]


def test_adopt_plain_layout_migrates_a_plain_rollup(spark, tmp_path):
    """A store in the retired plain layout (bare ``batch_id=`` parquet
    directories, no ``_commits/``) is refused by readers and writers
    with an error naming the migration; adopt_plain_layout then makes
    it read exactly as the plain directory listing merged it, and a
    second adoption writes no manifest."""
    from nashville_etl_service_backup_spark.streaming.pipeline import (
        read_rollup,
    )

    roll = str(tmp_path / "rollup")
    schema = (
        "window_start timestamp, event_type string, n long, "
        "total decimal(18,6)"
    )
    h10, h11 = datetime(2024, 1, 1, 10), datetime(2024, 1, 1, 11)
    D = Decimal
    partials = {
        "batch_id=0": [(h10, "click", 2, D("3.5")), (h11, "view", 1, D(4))],
        "batch_id=1": [(h10, "click", 1, D("0.5"))],
        "batch_id=-2": [(h11, "view", -1, D(-4))],  # a forget partial
    }
    for name, rows in partials.items():
        spark.createDataFrame(rows, schema).write.parquet(f"{roll}/{name}")

    with pytest.raises(FileNotFoundError, match="adopt_plain_layout"):
        read_rollup(spark, roll)
    part = spark.createDataFrame([(h10, "click", 1, D(1))], schema)
    with pytest.raises(FileNotFoundError, match="adopt_plain_layout"):
        commitlog.publish(part, roll, 2)
    assert commitlog.plain_dirs(roll) == sorted(partials)
    assert not os.path.exists(os.path.join(roll, "_commits"))

    assert commitlog.adopt_plain_layout(roll) == 0
    assert commitlog.snapshot(roll) == sorted(partials)
    plain = (
        spark.read.option("basePath", roll)
        .parquet(roll)
        .groupBy("window_start", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        .filter(F.col("n") > 0)
    )
    assert sorted(read_rollup(spark, roll).collect()) == sorted(
        plain.collect()
    )
    assert sorted(map(tuple, plain.collect())) == [
        (h10, "click", 3, D("4.000000"))
    ]

    assert commitlog.adopt_plain_layout(roll) is None
    assert len(commitlog.log_entries(roll)) == 1
