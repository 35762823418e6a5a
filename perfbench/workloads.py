"""Workloads: generated inputs, the timed calls, and the output check.

Inputs are ``biblib_spark.corpus.make_corpus``'s rows with the seed given on
the command line (independent of ``DedupConfig.minhash_seed``) and are cached
as parquet keyed by (workload, payloads, mega fraction, seed). The program
under test only ever sees that parquet table.

Ground truth comes from the generator itself: payload ``p`` holds the records
of global slots ``[6p, 6p + 6)`` that exist (``k < n_variants(w)`` for
``w, k = divmod(slot, 4)``), in slot order, so record ``idx`` of payload
``p`` has ``rid = p * 2**20 + idx`` and belongs to work ``slot // 4``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

RECORDS_PER_PAYLOAD = 6
RECORD_IDX_BITS = 20
INPUT_VERSION = 1  # bump when the generator's output changes


@dataclass(frozen=True)
class Workload:
    name: str
    payloads: int
    mega_frac: float
    # calls made during set-up: the first runs in a cold JVM, and the JIT keeps
    # speeding the next few up, so a one-call warmup leaves the timed calls on
    # the steepest part of that ramp
    warmup_calls: int
    why: str


WORKLOADS = {
    "review": Workload(
        "review",
        8_000,
        0.05,
        2,
        "systematic-review export size (8k payloads, 5% boilerplate titles) "
        "through dedupe_corpus: per-job fixed costs, CC rounds and the star cap",
    ),
    "resume": Workload(
        "resume",
        6_000,
        0.0,
        1,  # a call here is a fresh run and three resumes
        "run_pipeline into an empty work_dir, then again on the completed one: "
        "parse, checkpoint writes and resume-time verify",
    ),
}


def input_path(cache_dir: str, wl: Workload, seed: int) -> str:
    tag = f"{wl.name}-n{wl.payloads}-m{int(wl.mega_frac * 1000)}-s{seed}-v{INPUT_VERSION}"
    return os.path.join(cache_dir, f"{tag}.parquet")


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a generator worker: writes every chunk of the JSON task list in argv[1]
_WORKER = (
    "import json, sys\n"
    "from perfbench.workloads import _write_chunk\n"
    "for task in json.loads(sys.argv[1]):\n"
    "    _write_chunk(task)\n"
)


def _write_chunk(task: list) -> None:
    """Worker: payloads [lo, hi) of the corpus as one parquet file."""
    path, lo, hi, seed, mega_frac = task
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from biblib_spark.corpus import _gen_partition
    from biblib_spark.schema import CORPUS_SCHEMA

    ids = iter([pd.DataFrame({"id": range(lo, hi)})])
    df = pd.concat(list(_gen_partition(ids, RECORDS_PER_PAYLOAD, seed, mega_frac)))
    table = pa.Table.from_pandas(df, schema=to_arrow_schema(CORPUS_SCHEMA), preserve_index=False)
    pq.write_table(table, path)


def materialize_input(cache_dir: str, wl: Workload, seed: int, workers: int) -> tuple[str, float]:
    """Write the workload's corpus once per key; returns (path, seconds).

    Rows are exactly ``make_corpus``'s (the same per-partition generator over
    the same contiguous payload ranges and file count), produced by worker
    processes before the measured Spark session starts, so a cache miss never
    warms the session that ``setup_s`` times.
    """
    path = input_path(cache_dir, wl, seed)
    t0 = time.perf_counter()
    if not os.path.exists(path):
        tmp = f"{path}.tmp"  # a killed run leaves it; reset_dir clears it
        reset_dir(tmp)
        parts = max(8, workers)  # make_corpus's partition count
        bounds = [wl.payloads * i // parts for i in range(parts + 1)]
        tasks = [
            (os.path.join(tmp, f"part-{i:05d}.parquet"), bounds[i], bounds[i + 1], seed,
             wl.mega_frac)
            for i in range(parts)
        ]
        # plain child processes, each waited for: a multiprocessing pool would
        # also start a resource-tracker process that outlives the benchmark
        env = dict(os.environ, PYTHONPATH=os.pathsep.join(
            filter(None, [_ROOT, os.environ.get("PYTHONPATH")])))
        procs = [
            subprocess.Popen([sys.executable, "-c", _WORKER, json.dumps(tasks[i::workers])],
                             env=env)
            for i in range(workers)
        ]
        try:
            codes = [proc.wait() for proc in procs]
        finally:
            for proc in procs:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if any(codes):
            raise RuntimeError(f"input generation failed: worker exit codes {codes}")
        os.replace(tmp, path)
    return path, time.perf_counter() - t0


@dataclass
class Truth:
    rids: np.ndarray  # sorted
    works: np.ndarray  # work id of rids[i]

    @property
    def records(self) -> int:
        return len(self.rids)


def ground_truth(wl: Workload, seed: int) -> Truth:
    from biblib_spark.corpus import SLOTS_PER_WORK, n_variants

    rids, works = [], []
    for p in range(wl.payloads):
        idx = 0
        for slot in range(p * RECORDS_PER_PAYLOAD, (p + 1) * RECORDS_PER_PAYLOAD):
            w, k = divmod(slot, SLOTS_PER_WORK)
            if k < n_variants(w, seed):
                rids.append((p << RECORD_IDX_BITS) + idx)
                works.append(w)
                idx += 1
    return Truth(np.array(rids, dtype=np.int64), np.array(works, dtype=np.int64))


def _pairs(sizes: np.ndarray) -> int:
    sizes = sizes.astype(np.int64)
    return int((sizes * (sizes - 1) // 2).sum())


def check_clusters(path: str, truth: Truth) -> tuple[list[str], float, float, int]:
    """Check a (rid, cluster_id, is_unique) parquet output against the truth.

    Returns (problems, work_recall, work_precision, clusters). Recall and
    precision are over same-work record pairs; they are measured, not gated.
    """
    t = pq.read_table(path, columns=["rid", "cluster_id", "is_unique"]).to_pandas()
    problems = []
    rid = np.sort(t["rid"].to_numpy())
    if not np.array_equal(rid, truth.rids):
        problems.append(f"rid set differs: {len(rid)} rows vs {truth.records} generated")
        return problems, 0.0, 0.0, 0
    g = t.groupby("cluster_id")
    uniques = g["is_unique"].sum()
    if (uniques != 1).any():
        problems.append(f"{int((uniques != 1).sum())} clusters without exactly one is_unique")
    mins = g["rid"].min()
    if (mins.index.to_numpy() != mins.to_numpy()).any():
        problems.append("cluster_id is not the cluster's min rid")
    work = truth.works[np.searchsorted(truth.rids, t["rid"].to_numpy())]
    true_pairs = _pairs(np.unique(truth.works, return_counts=True)[1])
    pred_pairs = _pairs(g.size().to_numpy())
    tp = _pairs(pd.DataFrame({"c": t["cluster_id"], "w": work}).groupby(["c", "w"]).size().to_numpy())
    recall = tp / true_pairs if true_pairs else 1.0
    precision = tp / pred_pairs if pred_pairs else 1.0
    return problems, recall, precision, len(mins)


def marker_stamps(work_dir: str) -> dict[str, float]:
    """``written_at`` of each checkpointed stage's _STAGE_OK marker."""
    from biblib_spark.plans.checkpoint import MARKER

    out = {}
    for stage in sorted(os.listdir(work_dir)):
        marker = os.path.join(work_dir, stage, MARKER)
        if os.path.exists(marker):
            with open(marker) as f:
                out[stage] = json.load(f)["written_at"]
    return out


def run_review(corpus, out_dir: str) -> str:
    """One corpus->clusters call through the fused path, written as parquet."""
    from biblib_spark.operators import dedupe

    dedupe.dedupe_corpus(corpus).write.mode("overwrite").parquet(out_dir)
    return out_dir


def run_resume(corpus, work_dir: str) -> str:
    """One run_pipeline call; builds or resumes the stages under work_dir."""
    from biblib_spark.plans import pipeline

    pipeline.run_pipeline(corpus.sparkSession, corpus, work_dir)
    return os.path.join(work_dir, "clusters")


def trace_targets(name: str) -> list[tuple]:
    """Layer entry points to wrap in spans, as (module, attr, layer, output)."""
    from biblib_spark.operators import dedupe
    from biblib_spark.plans import pipeline, spill

    downstream = [
        (dedupe, "candidate_pairs", "candidates", "barrier"),
        (dedupe, "verify_pairs", "verify", "barrier"),
        (dedupe, "assign_clusters", "components", "barrier"),
        (dedupe, "elect_representatives", "election", "barrier"),
    ]
    if name == "review":
        return [
            (dedupe, "dedupe_corpus", "dedupe", None),
            (spill, "spill_to_parquet", "dedupe", "spill"),
        ] + downstream
    return [
        (pipeline, "_input_fingerprint", "checkpoint", None),
        (pipeline, "run_stage", "checkpoint", None),
        (pipeline, "parse_with_diagnostics", "sources", "barrier"),
        (pipeline, "dedupe_records", "dedupe", None),
        (dedupe, "preprocess", "dedupe", "barrier"),
    ] + downstream


def parquet_rows(paths: list[str]) -> int:
    rows = 0
    for p in paths:
        for root, _d, files in os.walk(p):
            rows += sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for f in files
                if f.endswith(".parquet")
            )
    return rows


def parquet_mb(paths: list[str]) -> float:
    from perfbench.sampler import dir_bytes

    return sum(dir_bytes(p) for p in paths) / float(1 << 20)


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
