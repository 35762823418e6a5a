"""Stage checkpointing with per-partition lineage markers (C8, SURVEY.md §2.8).

Each stage writes parquet plus a ``_STAGE_OK`` JSON marker carrying:

- total row count,
- the input lineage dict the stage was built from (so resuming a work_dir
  against *different* input is detected, not silently skipped),
- per-partition (per output file) row counts and content-hash XORs — the
  north_rule's "checkpoints per-partition lineage + metrics": a resumed run
  re-derives the per-file counters and refuses to trust a stage whose files
  were tampered with / partially lost.

``run_stage`` skips stages whose marker exists AND whose lineage matches AND
whose per-partition counters verify; otherwise it rebuilds. Iceberg is the
target table format on a real cluster (snapshot metadata plays the marker's
role); the sandbox falls back to plain parquet behind this same interface
(SURVEY.md §7.3). The verify pass is one column-pruned scan of the stage
output — at 100 TB you would verify counts-only (footer metadata) per file
and sample the content hash; both are derived from the same marker payload.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MARKER = "_STAGE_OK"


class StageIntegrityError(RuntimeError):
    """A completed stage's files no longer match its recorded lineage."""


def stage_done(path: str) -> bool:
    return os.path.exists(os.path.join(path, MARKER))


def _hashable(dt) -> bool:
    """Spark prohibits hash expressions over MAP (iteration order unstable)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def _file_folds(df: DataFrame) -> list[tuple[str, int, int]]:
    """(input file URI, row count, content-hash XOR) per file ``df`` scans.

    xor (not sum) so the fold can't overflow and is order-insensitive;
    xxhash64 over every hashable column fingerprints content, not just shape
    (map-typed columns are excluded — Spark prohibits hashing them; row
    counts still cover them). The one tamper-detection fold behind both the
    _STAGE_OK marker and the IceTable manifest (plans/icetable.py).
    """
    cols = [f.name for f in df.schema.fields if _hashable(f.dataType)]
    hexpr = (
        F.expr(
            "bit_xor(xxhash64("
            + ", ".join(f"`{c}`" for c in cols)  # reserved-word-safe
            + "))"
        )
        if cols
        else F.lit(0)
    )
    rows = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("rows"), hexpr.alias("hxor"))
        .collect()
    )
    return [(r["f"], r["rows"], int(r["hxor"] or 0)) for r in rows]


def _partition_stats(df: DataFrame) -> dict[str, dict]:
    """Per output-file (by file name) row count + content-hash XOR."""
    return {
        os.path.basename(f): {"rows": n, "hxor": h} for f, n, h in _file_folds(df)
    }


def write_stage(df: DataFrame, path: str, lineage: dict | None = None) -> dict:
    """Write a stage output + marker. Returns the marker payload."""
    df.write.mode("overwrite").parquet(path)
    spark = df.sparkSession
    parts = _partition_stats(spark.read.parquet(path))
    payload = {
        "rows": sum(p["rows"] for p in parts.values()),
        "written_at": time.time(),
        "lineage": lineage or {},
        "partitions": parts,
    }
    with open(os.path.join(path, MARKER), "w") as f:
        json.dump(payload, f)
    return payload


def read_marker(path: str) -> dict:
    with open(os.path.join(path, MARKER)) as f:
        return json.load(f)


def verify_stage(spark: SparkSession, path: str) -> list[str]:
    """Recompute per-partition counters and diff against the marker.

    Returns a list of problems (empty = stage verifies). Missing, extra, or
    content-drifted files are each reported.
    """
    marker = read_marker(path)
    expected = marker.get("partitions")
    if expected is None:  # legacy marker without per-partition lineage
        n = spark.read.parquet(path).count()
        return [] if n == marker["rows"] else [f"rows {n} != {marker['rows']}"]
    actual = _partition_stats(spark.read.parquet(path))
    problems = []
    for fname, exp in expected.items():
        got = actual.get(fname)
        if got is None:
            problems.append(f"missing partition {fname}")
        elif got != exp:
            problems.append(
                f"partition {fname}: rows {got['rows']}/{exp['rows']},"
                f" hxor {got['hxor']}/{exp['hxor']}"
            )
    for fname in actual:
        if fname not in expected:
            problems.append(f"unexpected partition {fname}")
    return problems


def run_stage(
    spark: SparkSession,
    path: str,
    build: Callable[[], DataFrame],
    lineage: dict | None = None,
    on_corrupt: str = "raise",
) -> DataFrame:
    """Build-or-resume one stage.

    Resume requires (1) the marker exists, (2) its recorded lineage equals the
    lineage of the CURRENT input — resuming a work_dir against changed input
    rebuilds instead of returning stale results — and (3) per-partition
    counters verify. A verification failure raises ``StageIntegrityError``
    by default (``on_corrupt='rebuild'`` rebuilds).
    """
    lineage = lineage or {}
    if not stage_done(path) or read_marker(path).get("lineage", {}) != lineage:
        write_stage(build(), path, lineage)
    elif problems := verify_stage(spark, path):
        if on_corrupt != "rebuild":
            raise StageIntegrityError(f"{path}: {'; '.join(problems)}")
        write_stage(build(), path, lineage)
    return spark.read.parquet(path)
