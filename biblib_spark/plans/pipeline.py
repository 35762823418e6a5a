"""End-to-end resumable pipeline: corpus -> features -> clusters.

Stages checkpoint to ``work_dir`` with _STAGE_OK markers (C8); re-running
with the same work_dir resumes after the last completed stage. The lineage
entry records an order-insensitive aggregate of per-row hashes over the
input columns the feature kernel reads, the DedupConfig and the source
column, so a resume against different input or a different config is
detectable.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biblib_spark.operators.dedupe import (
    DedupConfig,
    dedupe_features,
    features_from_corpus,
)
from biblib_spark.plans.checkpoint import run_stage

# unused here, kept importable: perfbench's trace_targets("resume") patches them
from biblib_spark.operators.dedupe import dedupe_records  # noqa: F401
from biblib_spark.sources.parse import parse_with_diagnostics  # noqa: F401


def _input_fingerprint(corpus: DataFrame, cols: list[str]) -> dict:
    """Row count + a sum of per-row hashes over ``cols``, which must be
    exactly the input columns the first stage's kernel reads. Shared by the
    citation and code pipelines."""
    row = corpus.select(
        F.count(F.lit(1)).alias("n"),
        # order-insensitive; decimal(38,0) because a bit_xor cancels
        # identical rows and a long sum wraps or raises
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hsum"),
    ).collect()[0]
    return {"input_rows": row["n"], "input_hash_sum": int(row["hsum"] or 0)}


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    work_dir: str,
    cfg: DedupConfig | None = None,
    source_col: str | None = None,
    table_format: str = "parquet",
) -> DataFrame:
    """Returns the clusters DataFrame (rid, cluster_id, is_unique, source).

    Two stages under ``work_dir``, the same kernel and matcher as
    ``dedupe_corpus`` with the feature table pinned as a resumable stage
    instead of a scratch spill:

    - ``features/``: ``features_from_corpus`` — each payload parsed ONCE into
      the dedup feature rows;
    - ``clusters/``: ``dedupe_features`` over that stage.

    ``source_col`` names a corpus column carrying the per-payload source
    register (M12); every citation of a payload inherits it. Without it the
    detected format is the source. Unparseable payloads are not kept here;
    ``sources.parse.parse_corpus_quarantine(corpus)`` returns them.

    ``table_format='iceberg'`` checkpoints each stage as an IceTable
    snapshot commit (plans/icetable.py) instead of parquet + _STAGE_OK
    marker: same resume/lineage/verify contract, plus atomic commits,
    snapshot isolation against concurrent readers, and time travel across
    rebuilds — the north_rule's "resumable from checkpoint with
    per-partition lineage + metrics" in its real-cluster table format.
    """
    cfg = cfg or DedupConfig()
    lineage = {
        # rids come from row_id, sources from source_col
        **_input_fingerprint(
            corpus, ["row_id", "content"] + ([source_col] if source_col else [])
        ),
        "cfg": dataclasses.asdict(cfg),
        "source_col": source_col,
    }
    if table_format == "iceberg":
        from biblib_spark.plans.icetable import run_stage_ice as stage_fn
    elif table_format == "parquet":
        stage_fn = run_stage
    else:
        raise ValueError(f"unknown table_format {table_format!r}")

    feat = stage_fn(
        spark,
        os.path.join(work_dir, "features"),
        lambda: features_from_corpus(corpus, cfg, source_col=source_col),
        lineage,
    )
    return stage_fn(
        spark,
        os.path.join(work_dir, "clusters"),
        lambda: dedupe_features(feat, cfg),
        lineage,
    )
