"""Standalone runner for the scaling protocol: one cold JVM per measurement.

Usage: python scripts/cluster_job.py <cores> <num_payloads> [seed] [repeats]
Prints one JSON line {"records": N, "seconds": S, "cores": C, "runs": [...]}.

Frequency discipline: a level pinned below the machine's core count runs
with SCHED_IDLE ballast on the complement cores (scripts/ballast.py) so the
host's all-core frequency state matches the full-width level — the faithful
single-box analog of N-vs-4N executors on machines whose clocks are
independent. Disable with SPARK_GRAFT_BALLAST=0.

Warmup discipline: the first execution of each distinct physical plan pays
10-30s of codegen + C2 JIT, and AQE picks DIFFERENT plans (broadcast vs
shuffled joins, coalesced partition counts) at different input sizes — so the
warmup must run the SAME scan shape (parquet read, not an in-memory range)
at a size large enough to take the big-input plan branches. Measured runs
are best-of-N inside one process (the host shows ±25% noisy-neighbor
variance; best-of filters contention spikes without hiding real cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WARMUP_PAYLOADS = int(
    os.environ.get("SPARK_GRAFT_WARMUP_PAYLOADS", "30000")
)  # big enough that AQE keeps the shuffled-join plans


def _corpus_path(
    spark, num_payloads: int, seed: int, mega_frac: float = 0.0
) -> str:
    from biblib_spark.corpus import make_corpus

    # SPARK_GRAFT_CORPUS_DIR relocates the input (e.g. /dev/shm vs /tmp) for
    # the page-cache-pressure A/B — same bytes, different backing store
    base = os.environ.get("SPARK_GRAFT_CORPUS_DIR", "/tmp")
    tag = f"_mega{int(mega_frac * 1000)}" if mega_frac > 0 else ""
    path = f"{base}/biblib_corpus_v5_{num_payloads}_{seed}{tag}.parquet"
    if not os.path.exists(path):
        make_corpus(
            spark, num_payloads, records_per_payload=6, seed=seed,
            mega_frac=mega_frac,
        ).write.mode("overwrite").parquet(path)
    return path


def _touch_pages(path: str) -> None:
    """Sequentially read the corpus files once so the first measured run is
    not a disk cold-read benchmark: /tmp sits on one virtual disk whose
    bandwidth is core-count-independent, and an evicted page cache showed up
    as a 4-6x outlier first repeat at both levels. Warmup discipline, same
    as the JIT prefix — the measured quantity is clustering throughput."""
    buf = bytearray(1 << 20)
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                with open(os.path.join(root, fn), "rb", buffering=0) as f:
                    while f.readinto(buf):
                        pass
            except OSError:
                pass


def main() -> None:
    cores = int(sys.argv[1])
    num_payloads = int(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    repeats = (
        int(sys.argv[4])
        if len(sys.argv) > 4
        else int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    )

    from biblib_spark.operators.dedupe import DedupConfig, dedupe_corpus
    from biblib_spark.session import get_spark

    # Local-dir placement is input-size-gated: the default all-tmpfs local
    # dir is RAM, and at 10M payloads (25.5M records) the LIVE set of
    # shuffle blocks + CC localCheckpoint blocks + feature spill peaked at
    # 99.8 GB Shmem, driving host MemAvailable to 0.33 GB and killing the
    # JVM mid-CC (bench_runs/r04/headroom25m_oom_memsample.jsonl). Spark
    # round-robins blocks across a comma list, so tmpfs+disk halves RAM
    # pressure at ~2x the still-unmeasured I/O cost — on a real cluster the
    # local dir is per-executor NVMe and this tradeoff does not exist.
    # threshold: 6M payloads (15.3M records) measured all-tmpfs-safe — peak
    # Shmem ~22 GB with 88 GB MemAvailable (bench_runs/r04/
    # scale6m_summary.json) — so the scaling-gate size stays on RAM; the
    # OOM was at 10M payloads (99.8 GB Shmem)
    if "SPARK_LOCAL_DIRS" not in os.environ and num_payloads > 6_000_000:
        if os.path.isdir("/dev/shm"):
            os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-local,/tmp/spark-local"

    cfg = DedupConfig()

    spark = get_spark(f"cluster_job_{cores}", cores=cores)
    # Coarse input splits for THIS job only (guide §6: fewer, larger map
    # tasks): the session default (3m) suits the few-hundred-MB sf tables,
    # but at 6M payloads the corpus is ~4 GB and 3m splits plan ~1,344 scan
    # tasks whose fixed costs dominate — the r06 baseline parse stage
    # carried 366 s of task-deserialization time alone (stage 43), every
    # downstream feature-spill scan re-split into ~786 tasks x 6 consumers,
    # and the same job measured 259 -> 139 s (3M payloads, 32c, one window)
    # when re-split to ~128 map tasks. Scale-adaptive, not core-count
    # dependent (guide §2): target ~128 map tasks from the INPUT SIZE so
    # both scaling levels run the identical plan, clamped to [16m, 64m]
    # (measured at 3M: 8m 175 s, 16m 139 s, 32m 151 s, 64m 210 s).
    # materialize the input table first — the north_rule pipeline reads an
    # Iceberg/parquet table, so input synthesis is not part of the measured
    # clustering window. SPARK_GRAFT_MEGA_FRAC > 0 plants the C7 skew
    # stress (corpus.MEGA_TITLE/MEGA_YEAR hot block at that work fraction);
    # the warmup corpus stays uniform — its job is plan-shape JIT, and the
    # cached uniform parquet is reused across arms
    mega_frac = float(os.environ.get("SPARK_GRAFT_MEGA_FRAC", "0"))
    main_path = _corpus_path(spark, num_payloads, seed, mega_frac)
    _touch_pages(main_path)
    split_env = os.environ.get("SPARK_GRAFT_SPLIT_MB")
    if split_env is None:
        corpus_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(main_path) for f in fs
        )
        split_mb = min(64, max(16, corpus_bytes // (128 * 1024 * 1024)))
    else:
        split_mb = int(split_env)
    spark.conf.set("spark.sql.files.maxPartitionBytes", f"{split_mb}m")
    corpus = spark.read.parquet(main_path)
    # Warmup size: the fixed 30k warmup compiles the WRONG codegen classes
    # for a multi-million-payload run — at 30k payloads the feature table
    # is ~7 MB, AQE plans broadcast joins, and the big run's sort-merge /
    # object-agg WholeStageCodegen classes are first-compiled DURING
    # repeat 1 (measured: repeat-1 stages burning 3-10x the CPU of
    # repeat-2 for identical work; narrow-join stage 108 s vs 11 s).
    # A warmup at ~1/6 of the input (capped at 1M payloads) takes the same
    # AQE branches: repeat-1 dropped 591 -> 426 s at 6M/32c for ~55 s of
    # extra warmup. Only at >= 16 cores: best-of-2 discards the JIT
    # repeat anyway, and at 8 pinned cores the bigger warmup's own wall
    # (~4x) cancels the saving.
    warm_n = WARMUP_PAYLOADS
    if cores >= 16:
        warm_n = max(WARMUP_PAYLOADS, min(1_000_000, num_payloads // 6))
    warm = spark.read.parquet(_corpus_path(spark, warm_n, seed))
    dedupe_corpus(warm, cfg).count()

    from biblib_spark.hostload import ExternalLoadMeter

    # Frequency-pinning ballast (scripts/ballast.py): on this single box a
    # level pinned to cores [0, N) with N < cpu_count leaves the complement
    # idle, the host package clocks the busy cores UP (~30% per-core,
    # scripts/ballast_probe.py), and the small level measures on hardware
    # the big level never gets — a single-box artifact a real N-vs-4N
    # cluster (separate machines, independent frequency) does not have.
    # SCHED_IDLE pure-ALU spinners on the complement pin the package to its
    # all-core frequency state for both levels; their CPU is accounted as
    # own load and excluded from the outside-pinned neighbor signal.
    import contextlib

    from scripts.ballast import ballast_on, complement_of

    use_ballast = (
        os.environ.get("SPARK_GRAFT_BALLAST", "1") != "0"
        and cores < (os.cpu_count() or cores)
    )
    stack = contextlib.ExitStack()
    ballast_pids: frozenset[int] = frozenset()
    ballast_cores: list[int] = []
    if use_ballast:
        ballast_cores = complement_of(range(cores))
        procs = stack.enter_context(ballast_on(ballast_cores))
        ballast_pids = frozenset(p.pid for p in procs if p.pid)

    meter = ExternalLoadMeter(
        pinned_cores=cores if cores < os.cpu_count() else None,
        ballast_pids=ballast_pids,
    )
    runs = []
    loads = []
    ext_loads = []
    steals = []
    outside = []
    utils = []
    ballast_utils = []
    n = 0
    for _ in range(repeats):
        meter.start()
        t0 = time.time()
        clusters = dedupe_corpus(corpus, cfg)
        n = clusters.count()
        el = time.time() - t0
        runs.append(round(el, 3))
        # external contention during THIS run: machine busy cores minus this
        # job's own cores — alive subtree PLUS workers that died orphaned
        # into init (loadavg can't tell any of this apart); hypervisor steal
        # and the churn-proof outside-pinned-range busy broken out alongside
        ext_loads.append(round(meter.stop(), 2))
        steals.append(round(meter.last_steal_cores, 2))
        outside.append(round(meter.last_outside_pinned_cores, 2))
        # own-job cores excluding the ballast's (accounting-own) spin
        utils.append(round(meter.last_own_cores - meter.last_ballast_cores, 1))
        ballast_utils.append(round(meter.last_ballast_cores, 1))
        loads.append(round(os.getloadavg()[0], 1))
        # each run materializes its features (parquet spill) and CC labels
        # (checkpoint blocks); drop both between repeats or the accumulation
        # GC-thrashes / fills tmpfs across repeats
        from biblib_spark.plans.spill import cleanup_all

        cleanup_all()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
    stack.close()
    spark.stop()
    best = min(range(len(runs)), key=lambda i: runs[i])
    print(
        json.dumps(
            {
                "records": n,
                "seconds": runs[best],
                "cores": cores,
                "runs": runs,
                "loadavg_after_runs": loads,
                "external_cores_during_runs": ext_loads,
                "external_cores_best_run": ext_loads[best],
                "steal_cores_during_runs": steals,
                "outside_pinned_cores_during_runs": outside,
                "own_cores_during_runs": utils,
                "ballast": {
                    "enabled": use_ballast,
                    "cores": ballast_cores,
                    "cores_during_runs": ballast_utils,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
