"""Iceberg-style snapshot table format (sandbox-local, parquet-backed).

The north_rule targets an Iceberg table; plans/checkpoint.py notes that on a
real cluster "snapshot metadata plays the marker's role" (SURVEY.md §7.3).
This module implements the part of the Iceberg spec that the checkpoint
markers have been standing in for — so stage outputs and streaming edge logs
get ATOMIC commits, snapshot isolation, and time travel with no extra scan:

table_dir/
  data/<commit-uuid>/part-*.parquet      immutable data files, one dir per commit
  metadata/v<N>.metadata.json            one snapshot per committed version:
                                         schema, operation, parent version,
                                         manifest = [{path, rows, hxor}, ...]
  metadata/version-hint.text             current version N (atomic rename swap)

Commit protocol (the Iceberg optimistic-concurrency core, spec §Table
Metadata): writers never mutate existing files; a commit (1) writes its data
files under a fresh uuid dir, (2) writes v<N+1>.metadata.json with
O_CREAT|O_EXCL — losing a race raises and the committer re-reads the current
version and retries on top of it, (3) swaps version-hint via rename (POSIX
atomic). Readers resolve version-hint (or an explicit snapshot id) and read
EXACTLY that manifest's file list — a concurrent append can never produce a
torn read, and an abandoned writer leaves only unreferenced files that
``expire_snapshots`` sweeps.

The manifest carries per-file row counts + content-hash XORs — the same
per-partition lineage the _STAGE_OK markers record (one fold,
checkpoint.py ``_file_folds``), so ``verify()`` gives checkpoint-grade tamper
detection over any snapshot.

At 100 TB: manifests here are single JSON files, fine for 10^3-10^5 data
files per table (a 4M-payload stage output is ~32-200 files); real Iceberg
splits manifests into avro manifest-lists at 10^6+ files — the layout below
keeps that split possible (the manifest is already a separate array from the
snapshot header) without implementing it in the sandbox.
"""

from __future__ import annotations

import json
import os
import random
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic concurrency)."""


class SnapshotIntegrityError(RuntimeError):
    """A snapshot's data files no longer match its manifest."""


def _file_stats(df: DataFrame) -> list[dict]:
    """Per-data-file manifest entries: full path, rows, content-hash XOR
    (checkpoint._file_folds, the fold behind the _STAGE_OK marker)."""
    from biblib_spark.plans.checkpoint import _file_folds

    out = []
    for path, rows, hxor in _file_folds(df):
        # input_file_name returns a URI; normalize to a local path
        if path.startswith("file:"):
            path = path[len("file:"):]
        out.append({"path": path, "rows": rows, "hxor": hxor})
    return sorted(out, key=lambda e: e["path"])


class IceTable:
    """One snapshot-versioned table rooted at ``table_dir``."""

    def __init__(self, table_dir: str):
        self.dir = table_dir
        self.meta_dir = os.path.join(table_dir, "metadata")
        self.data_dir = os.path.join(table_dir, "data")

    # ---- metadata plumbing -------------------------------------------------

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def _meta_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.metadata.json")

    def current_version(self) -> int:
        """0 = table does not exist yet.

        The hard-link of v<N>.metadata.json is the commit point; the hint
        file is only a hint (Iceberg semantics). Reconciling with the
        directory listing means a writer that died between link and hint
        swap still counts as committed instead of wedging every later
        commit into a version conflict against an invisible winner."""
        hint = 0
        try:
            with open(self._hint_path()) as f:
                hint = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            pass
        try:
            names = os.listdir(self.meta_dir)
        except OSError:
            return hint
        on_disk = max(
            (
                int(m.group(1))
                for m in (
                    re.fullmatch(r"v(\d+)\.metadata\.json", n) for n in names
                )
                if m
            ),
            default=0,
        )
        return max(hint, on_disk)

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v <= 0:
            raise FileNotFoundError(f"{self.dir}: no committed snapshot")
        with open(self._meta_path(v)) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """All committed snapshot headers, oldest first (time-travel index).

        Scans the metadata dir instead of counting up from v1: after
        ``expire_snapshots`` the oldest surviving version is > 1, and a
        v1-anchored walk would report an empty table — silently disabling
        the streaming sink's batch-id replay dedup, which rebuilds its
        idempotency set from these headers (streaming/stateful.py)."""
        try:
            names = os.listdir(self.meta_dir)
        except OSError:
            return []
        versions = sorted(
            int(m.group(1))
            for m in (re.fullmatch(r"v(\d+)\.metadata\.json", n) for n in names)
            if m
        )
        return [self.snapshot(v) for v in versions]

    # ---- commit protocol ---------------------------------------------------

    def _commit(self, manifest: list[dict], operation: str,
                summary: dict | None = None, retries: int = 5,
                schema_json: str | None = None) -> dict:
        os.makedirs(self.meta_dir, exist_ok=True)
        for attempt in range(retries):
            parent = self.current_version()
            version = parent + 1
            if operation == "append" and parent > 0:
                base_snap = self.snapshot(parent)
                base = base_snap["manifest"]
                if schema_json is None:
                    schema_json = base_snap.get("schema")
            else:
                base = []
            snap = {
                "version": version,
                "parent": parent or None,
                "operation": operation,
                "committed_at": time.time(),
                "schema": schema_json,
                "manifest": base + manifest,
                "rows": sum(e["rows"] for e in base) + sum(e["rows"] for e in manifest),
                "summary": summary or {},
            }
            # write-then-link: the snapshot json is fully written under a
            # temp name first, and the version is CLAIMED by hard-linking it
            # to v<N>.metadata.json — os.link fails (EEXIST) iff the version
            # is taken, giving O_EXCL's exactly-one-winner guarantee without
            # its failure mode: a writer that dies mid-json can only leave a
            # .tmp orphan (never a torn v<N> that would wedge every later
            # commit with FileExistsError and every read with
            # JSONDecodeError). The tmp name is not matched by snapshots()'s
            # v<N> pattern, so orphans are invisible to readers.
            tmp = self._meta_path(version) + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(snap, f)
            try:
                os.link(tmp, self._meta_path(version))
            except FileExistsError:
                # lost the race: re-read the new current version and replay
                # on top (Iceberg optimistic retry); brief jitter so a
                # thundering herd of losers doesn't spuriously exhaust the
                # retry budget while the winner is between link and hint swap
                os.unlink(tmp)
                time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
                continue
            os.unlink(tmp)
            hint_tmp = self._hint_path() + f".{uuid.uuid4().hex}"
            with open(hint_tmp, "w") as f:
                f.write(str(version))
            os.replace(hint_tmp, self._hint_path())  # atomic swap
            return snap
        raise CommitConflict(f"{self.dir}: lost {retries} commit races")

    def _write_data(self, df: DataFrame) -> list[dict]:
        commit_dir = os.path.join(self.data_dir, uuid.uuid4().hex)
        df.write.mode("error").parquet(commit_dir)
        # an all-empty write leaves no part files (only _SUCCESS) — an empty
        # manifest is a legal commit (e.g. an empty streaming microbatch)
        if not any(f.endswith(".parquet") for f in os.listdir(commit_dir)):
            return []
        return _file_stats(df.sparkSession.read.parquet(commit_dir))

    def append(self, df: DataFrame, summary: dict | None = None) -> dict:
        """Atomically add ``df``'s rows to the table (streaming edge-log shape)."""
        return self._commit(self._write_data(df), "append", summary,
                            schema_json=df.schema.json())

    def overwrite(self, df: DataFrame, summary: dict | None = None) -> dict:
        """Atomically replace table contents (stage-output shape). Old data
        files stay on disk for time travel until ``expire_snapshots``."""
        return self._commit(self._write_data(df), "overwrite", summary,
                            schema_json=df.schema.json())

    # ---- reads ---------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Scan exactly one snapshot's manifest (default: current). Torn
        reads are impossible: the file list is frozen in the metadata json."""
        snap = self.snapshot(version)
        files = [e["path"] for e in snap["manifest"]]
        if not files:
            # a legal state, not an error: e.g. a stage whose output is
            # genuinely empty, or an edge log whose only microbatches were
            # empty — the snapshot carries the writer's schema so the
            # reader gets the same typed (empty) DataFrame the parquet
            # checkpoint path would produce
            schema_json = snap.get("schema")
            if schema_json:
                from pyspark.sql.types import StructType

                return spark.createDataFrame(
                    [], StructType.fromJson(json.loads(schema_json))
                )
            raise ValueError(
                f"{self.dir}: snapshot v{snap['version']} is empty and "
                "records no schema (pre-schema table version)"
            )
        return spark.read.parquet(*files)

    def verify(self, spark: SparkSession, version: int | None = None) -> list[str]:
        """Checkpoint-grade integrity: recompute per-file rows/hash-XOR and
        diff against the manifest. Empty list = snapshot verifies."""
        snap = self.snapshot(version)
        expected = {e["path"]: e for e in snap["manifest"]}
        missing = [p for p in expected if not os.path.exists(p)]
        problems = [f"missing data file {p}" for p in missing]
        live = [p for p in expected if p not in missing]
        actual: dict[str, dict] = {}
        if live:
            try:
                actual = {
                    e["path"]: e for e in _file_stats(spark.read.parquet(*live))
                }
            except Exception:
                # a corrupted file aborts the batch scan (e.g. Hadoop local
                # .crc checksum mismatch) — probe per-file to name the culprit
                for p in live:
                    try:
                        stats = _file_stats(spark.read.parquet(p))
                        # a readable but zero-row file can never match its
                        # manifest entry (entries only exist for files that
                        # had rows at commit) — report the truncation
                        # instead of crashing the probe on stats[0]
                        actual[p] = (
                            stats[0]
                            if stats
                            else {"path": p, "rows": 0, "hxor": 0}
                        )
                    except Exception as exc:
                        problems.append(
                            f"unreadable data file {p}: {type(exc).__name__}"
                        )
        for path, exp in expected.items():
            if path in missing:
                continue
            got = actual.get(path)
            if got is None:
                # readable but contributed NO rows to the scan: a file
                # truncated/emptied to a valid zero-row parquet —
                # _file_stats groups by input_file_name, so such a file
                # silently vanishes from the batch scan's stats and a
                # presence-only comparison would pass it
                if not any(path in p for p in problems):
                    problems.append(
                        f"data file {path}: rows 0/{exp['rows']},"
                        f" hxor 0/{exp['hxor']}"
                    )
            elif (got["rows"], got["hxor"]) != (exp["rows"], exp["hxor"]):
                problems.append(
                    f"data file {path}: rows {got['rows']}/{exp['rows']},"
                    f" hxor {got['hxor']}/{exp['hxor']}"
                )
        return problems

    # ---- maintenance ---------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        files no surviving manifest references. Returns deleted file paths."""
        current = self.current_version()
        if current <= 0:
            return []
        cutoff = max(1, current - keep_last + 1)
        keep_files: set[str] = set()
        for v in range(cutoff, current + 1):
            keep_files.update(e["path"] for e in self.snapshot(v)["manifest"])
        deleted = []
        for v in range(1, cutoff):
            try:
                manifest = self.snapshot(v)["manifest"]
            except FileNotFoundError:
                continue  # already expired by an earlier sweep
            for e in manifest:
                p = e["path"]
                if p not in keep_files and os.path.exists(p):
                    os.remove(p)
                    deleted.append(p)
            os.remove(self._meta_path(v))
        # empty commit dirs left behind are harmless; sweep them anyway
        if os.path.isdir(self.data_dir):
            for d in os.listdir(self.data_dir):
                full = os.path.join(self.data_dir, d)
                if os.path.isdir(full) and not any(
                    f.endswith(".parquet") for f in os.listdir(full)
                ):
                    for f in os.listdir(full):
                        os.remove(os.path.join(full, f))
                    os.rmdir(full)
        return deleted


def read_table_or_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read ``path`` as an IceTable if it has committed snapshot metadata
    (metadata/version-hint.text), else as a plain parquet dir — the
    "parquet-or-iceberg corpus dir" input contract of the submit jobs. An
    IceTable read is snapshot-isolated: a concurrent committer cannot tear
    the scan's file list."""
    table = IceTable(path)
    if table.current_version() > 0:
        return table.read(spark)
    return spark.read.parquet(path)


def run_stage_ice(
    spark: SparkSession,
    table_dir: str,
    build,
    lineage: dict | None = None,
    on_corrupt: str = "raise",
) -> DataFrame:
    """Build-or-resume one pipeline stage with an IceTable as the checkpoint
    (the north_rule's "checkpoints per-partition lineage + counters to
    Iceberg"; same contract as checkpoint.run_stage, snapshot metadata
    playing the _STAGE_OK marker's role):

    - resume requires a committed snapshot whose recorded input lineage
      equals the CURRENT input's (a resume against changed input rebuilds,
      never returns stale results) and whose manifest verifies
      (per-file rows + content-hash XOR);
    - a rebuild is an ``overwrite`` COMMIT, not an rm-rf: the superseded
      snapshot stays time-travelable until ``expire_snapshots``;
    - verification failure raises ``SnapshotIntegrityError`` by default
      (``on_corrupt='rebuild'`` recommits instead).
    """
    table = IceTable(table_dir)
    lineage = lineage or {}
    if (
        table.current_version() == 0
        or table.snapshot().get("summary", {}).get("lineage") != lineage
    ):
        table.overwrite(build(), summary={"lineage": lineage})
    elif problems := table.verify(spark):
        if on_corrupt != "rebuild":
            raise SnapshotIntegrityError(f"{table_dir}: {'; '.join(problems)}")
        table.overwrite(build(), summary={"lineage": lineage})
    return table.read(spark)
