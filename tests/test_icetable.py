"""Iceberg-style snapshot table: atomic commits, time travel, integrity,
concurrency (plans/icetable.py — the real-cluster shape of C8)."""

import json
import os

import pytest

from biblib_spark.plans.icetable import (
    CommitConflict,
    IceTable,
    _file_stats,
)


@pytest.fixture
def table(tmp_path):
    return IceTable(str(tmp_path / "tbl"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "v")


def test_append_and_time_travel(spark, table):
    table.append(_df(spark, 0, 10))
    table.append(_df(spark, 10, 15))
    assert table.current_version() == 2
    # current snapshot sees both commits
    assert table.read(spark).count() == 15
    # v1 still reads exactly the first commit (snapshot isolation)
    assert table.read(spark, version=1).count() == 10
    snaps = table.snapshots()
    assert [s["operation"] for s in snaps] == ["append", "append"]
    assert snaps[1]["parent"] == 1
    assert snaps[1]["rows"] == 15


def test_overwrite_replaces_but_keeps_history(spark, table):
    table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 100, 103))
    assert sorted(r.v for r in table.read(spark).collect()) == [100, 101, 102]
    # time travel to the pre-overwrite snapshot
    assert table.read(spark, version=1).count() == 10


def test_commit_is_atomic_under_version_race(spark, table):
    """Simulate a concurrent writer landing the next version first: the
    commit must NOT clobber it — it retries on top (O_EXCL create)."""
    table.append(_df(spark, 0, 5))
    # interloper claims v2 directly
    meta = table.snapshot(1)
    meta["version"], meta["parent"] = 2, 1
    with open(table._meta_path(2), "w") as f:
        json.dump(meta, f)
    with open(table._hint_path(), "w") as f:
        f.write("2")
    snap = table.append(_df(spark, 5, 8))
    assert snap["version"] == 3  # replayed on top, not overwritten
    # base = the interloper's v2 manifest (which references v1's 5 rows) + 3
    assert table.read(spark).count() == 8
    # the interloper's snapshot is intact — nothing was clobbered
    assert table.snapshot(2)["version"] == 2
    assert table.read(spark, version=2).count() == 5


def test_commit_conflict_exhausts_retries(spark, table, monkeypatch):
    table.append(_df(spark, 0, 3))
    # every version this writer tries is already taken
    monkeypatch.setattr(
        IceTable, "current_version", lambda self: 1
    )
    meta = table.snapshot(1)
    with open(table._meta_path(2), "w") as f:
        json.dump(meta, f)
    with pytest.raises(CommitConflict):
        table._commit([], "append", retries=2)


def test_verify_detects_tamper_and_loss(spark, table):
    table.append(_df(spark, 0, 20))
    assert table.verify(spark) == []
    files = [e["path"] for e in table.snapshot()["manifest"]]
    victim = files[0]
    os.remove(victim)
    problems = table.verify(spark)
    assert problems and "missing data file" in problems[0]


def test_verify_detects_content_drift(spark, table):
    table.append(_df(spark, 0, 20))
    # swap a data file for one with different content but same name
    victim = table.snapshot()["manifest"][0]["path"]
    _df(spark, 900, 905).coalesce(1).write.mode("overwrite").parquet(
        victim + ".swap"
    )
    part = [
        f for f in os.listdir(victim + ".swap") if f.endswith(".parquet")
    ][0]
    os.replace(os.path.join(victim + ".swap", part), victim)
    # with the Hadoop-local .crc sidecar still present the swapped file is
    # unreadable (checksum mismatch) — verify must name it, not crash
    problems = table.verify(spark)
    assert problems and "unreadable data file" in problems[0]
    # drop the sidecar: now the file reads fine and the MANIFEST lineage
    # (rows / hash-XOR) is what catches the drift
    crc = os.path.join(
        os.path.dirname(victim), "." + os.path.basename(victim) + ".crc"
    )
    os.remove(crc)
    problems = table.verify(spark)
    assert problems and ("rows" in problems[0] or "hxor" in problems[0])


def test_expire_snapshots_sweeps_unreferenced_files(spark, table):
    table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 50, 55))
    old_files = [e["path"] for e in table.snapshot(1)["manifest"]]
    deleted = table.expire_snapshots(keep_last=1)
    assert set(deleted) == set(old_files)
    assert all(not os.path.exists(p) for p in old_files)
    # current snapshot still reads fine; expired version is gone
    assert table.read(spark).count() == 5
    with pytest.raises(FileNotFoundError):
        table.snapshot(1)


def test_append_after_expire_keeps_lineage(spark, table):
    table.append(_df(spark, 0, 4))
    table.append(_df(spark, 4, 8))
    table.expire_snapshots(keep_last=1)
    table.append(_df(spark, 8, 10))
    assert table.read(spark).count() == 10


def test_manifest_stats_match_checkpoint_fold(spark, table):
    """The manifest's per-file (rows, hxor) must equal what the checkpoint
    marker machinery derives for the same files — one lineage definition."""
    from biblib_spark.plans.checkpoint import _partition_stats

    table.append(_df(spark, 0, 30))
    manifest = table.snapshot()["manifest"]
    df = spark.read.parquet(*[e["path"] for e in manifest])
    by_name = {
        os.path.basename(e["path"]): (e["rows"], e["hxor"]) for e in manifest
    }
    marker = {
        k: (v["rows"], v["hxor"]) for k, v in _partition_stats(df).items()
    }
    assert by_name == marker


# ---- run_stage_ice: the pipeline checkpoint contract over snapshots --------


def test_run_stage_ice_resume_and_lineage(spark, tmp_path):
    from biblib_spark.plans.icetable import run_stage_ice

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _df(spark, 0, 12)

    d = str(tmp_path / "stage")
    lin = {"input_rows": 12, "input_hash_xor": 7}
    assert run_stage_ice(spark, d, build, lin).count() == 12
    assert calls["n"] == 1
    # same lineage -> snapshot verifies -> resumed, not rebuilt
    assert run_stage_ice(spark, d, build, lin).count() == 12
    assert calls["n"] == 1
    assert IceTable(d).current_version() == 1
    # changed input lineage -> rebuild as a NEW snapshot (old one remains
    # time-travelable: rebuilds are commits, not rm-rf)
    lin2 = {"input_rows": 13, "input_hash_xor": 8}
    assert run_stage_ice(spark, d, build, lin2).count() == 12
    assert calls["n"] == 2
    t = IceTable(d)
    assert t.current_version() == 2
    assert t.read(spark, version=1).count() == 12


def test_run_stage_ice_integrity(spark, tmp_path):
    from biblib_spark.plans.icetable import (
        SnapshotIntegrityError,
        run_stage_ice,
    )

    d = str(tmp_path / "stage")
    lin = {"input_rows": 1}
    run_stage_ice(spark, d, lambda: _df(spark, 0, 9), lin)
    victim = IceTable(d).snapshot()["manifest"][0]["path"]
    os.remove(victim)
    with pytest.raises(SnapshotIntegrityError):
        run_stage_ice(spark, d, lambda: _df(spark, 0, 9), lin)
    # on_corrupt='rebuild' recommits instead
    out = run_stage_ice(
        spark, d, lambda: _df(spark, 0, 9), lin, on_corrupt="rebuild"
    )
    assert out.count() == 9
    assert IceTable(d).verify(spark) == []


def test_pipeline_iceberg_backend_matches_parquet(spark, tmp_path):
    """run_pipeline(table_format='iceberg') produces the same clusters as
    the parquet backend and resumes without recommitting."""
    from biblib_spark.corpus import make_corpus
    from biblib_spark.plans.pipeline import run_pipeline

    corpus = make_corpus(spark, 120, seed=13)
    wp, wi = str(tmp_path / "pq"), str(tmp_path / "ice")
    ref = {
        (r.rid, r.cluster_id)
        for r in run_pipeline(spark, corpus, wp).collect()
    }
    got = {
        (r.rid, r.cluster_id)
        for r in run_pipeline(
            spark, corpus, wi, table_format="iceberg"
        ).collect()
    }
    assert got == ref
    # resume: same snapshot versions afterwards (nothing recommitted)
    v_before = [
        IceTable(os.path.join(wi, s)).current_version()
        for s in ("features", "clusters")
    ]
    assert v_before == [1, 1]
    n = run_pipeline(spark, corpus, wi, table_format="iceberg").count()
    assert n == len(got)
    v_after = [
        IceTable(os.path.join(wi, s)).current_version()
        for s in ("features", "clusters")
    ]
    assert v_after == v_before


def test_read_table_or_parquet_sniffs_format(spark, tmp_path):
    from biblib_spark.plans.icetable import read_table_or_parquet

    ice_dir = str(tmp_path / "ice")
    IceTable(ice_dir).append(_df(spark, 0, 7))
    pq_dir = str(tmp_path / "pq")
    _df(spark, 0, 4).write.parquet(pq_dir)
    assert read_table_or_parquet(spark, ice_dir).count() == 7
    assert read_table_or_parquet(spark, pq_dir).count() == 4


# ---- round-5 hardening: expiry-safe history, torn commits, empty stages ----


def test_snapshots_survive_expiry(spark, table):
    """snapshots() must list the SURVIVING history after expire_snapshots —
    a v1-anchored walk would return [] (v1 is gone) and silently disable
    the streaming sink's batch-id replay dedup, which rebuilds its
    idempotency set from these headers."""
    table.append(_df(spark, 0, 3), summary={"batch_id": 0})
    table.append(_df(spark, 3, 6), summary={"batch_id": 1})
    table.append(_df(spark, 6, 9), summary={"batch_id": 2})
    table.expire_snapshots(keep_last=2)
    snaps = table.snapshots()
    assert [s["version"] for s in snaps] == [2, 3]
    committed = {s["summary"].get("batch_id") for s in snaps}
    assert committed == {1, 2}  # batch 2's replay guard survives expiry


def test_torn_metadata_crash_cannot_wedge_table(spark, table):
    """A writer that dies mid-commit must leave either nothing or a
    complete snapshot — never a partial v<N>.metadata.json that makes every
    later commit a version conflict and every read a JSONDecodeError."""
    table.append(_df(spark, 0, 4))
    # crashed writer's leftovers: a partial TEMP file (the only artifact
    # the write-then-link protocol can abandon mid-json)
    orphan = table._meta_path(2) + ".tmp.deadbeef"
    with open(orphan, "w") as f:
        f.write('{"version": 2, "par')  # torn json
    # invisible to readers and harmless to the next committer
    assert [s["version"] for s in table.snapshots()] == [1]
    snap = table.append(_df(spark, 4, 6))
    assert snap["version"] == 2
    assert table.read(spark).count() == 6


def test_crash_between_link_and_hint_swap_recovers(spark, table):
    """The metadata link is the commit point; a stale hint (writer died
    before the swap) must not wedge later committers into retrying a
    version that already exists."""
    table.append(_df(spark, 0, 4))
    table.append(_df(spark, 4, 7))
    # simulate the dead winner: v2 metadata exists, hint still says 1
    with open(table._hint_path(), "w") as f:
        f.write("1")
    assert table.current_version() == 2  # reconciled from the directory
    snap = table.append(_df(spark, 7, 9))
    assert snap["version"] == 3
    assert table.read(spark).count() == 9


def test_verify_reports_truncated_zero_row_file(spark, table):
    """A manifest file emptied to a readable zero-row parquet must be
    reported as drift, not crash the per-file probe (stats[0] IndexError)."""
    table.append(_df(spark, 0, 20))
    victim = table.snapshot()["manifest"][0]["path"]
    empty = _df(spark, 0, 0)
    tmp = victim + ".swap"
    empty.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.replace(os.path.join(tmp, part), victim)
    crc = os.path.join(
        os.path.dirname(victim), "." + os.path.basename(victim) + ".crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    problems = table.verify(spark)
    assert problems
    assert any("rows 0/" in p or "unreadable" in p for p in problems)


def test_empty_commit_reads_back_typed_empty(spark, table):
    """An all-empty write is a legal commit (empty streaming microbatch /
    empty stage output): read() must return a typed empty DataFrame from
    the snapshot's recorded schema instead of raising."""
    table.append(_df(spark, 0, 0))
    got = table.read(spark)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["v"]
    # and a later real append lands on top of it normally
    table.append(_df(spark, 0, 5))
    assert table.read(spark).count() == 5


def test_run_stage_ice_empty_stage_output(spark, tmp_path):
    """A stage whose build genuinely returns zero rows must checkpoint and
    resume like any other stage (the parquet checkpoint path tolerates
    this; the icetable path must too)."""
    from biblib_spark.plans.icetable import run_stage_ice

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _df(spark, 0, 0)

    d = str(tmp_path / "stage")
    lin = {"input_rows": 0}
    assert run_stage_ice(spark, d, build, lin).count() == 0
    assert run_stage_ice(spark, d, build, lin).count() == 0  # resume
    assert calls["n"] == 1


def test_repeated_expiry_is_idempotent(spark, table):
    """A second sweep must skip versions the first one already deleted
    instead of crashing on the missing metadata file."""
    table.append(_df(spark, 0, 3))
    table.append(_df(spark, 3, 6))
    table.expire_snapshots(keep_last=1)
    table.append(_df(spark, 6, 9))
    deleted = table.expire_snapshots(keep_last=1)  # walks over expired v1
    assert table.read(spark).count() == 9
    assert all("/data/" in p or os.sep in p for p in deleted)
