"""SparkSession factory with scale-oriented defaults.

The sandbox runs local[N] single-JVM; the configs below are the ones that
matter on a real multi-executor cluster too (AQE, skew-join splitting, Arrow
batching for the parse UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# JVM flags for the driver and executors (rationale at their conf lines)
_GC_OPTS = "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100"


def get_spark(
    app_name: str = "biblib_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # one wave per core: this pipeline runs MANY small-to-medium shuffle
        # stages (tier union, verify joins, CC levels), where per-task
        # dispatch latency outweighs straggler smoothing; AQE re-splits any
        # stage that actually skews. On a real cluster with deep stages,
        # raise toward 2-3x total cores.
        shuffle_partitions = max(cores, 16)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # advisory post-shuffle partition size: at 64m AQE coalesces a
        # ~256 MB pair-dedup shuffle to ~4 reduce tasks — fine on 8 cores,
        # starves 32
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # payloads can be multi-KB; 8192 rows/batch keeps per-batch memory
        # in the tens of MB while quartering the JVM<->Python Arrow
        # round-trips vs the 2048 default-ish setting (measured ~20% faster
        # end-to-end on the 765k-record job)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # split file scans finely enough that a few hundred MB of input still
        # fans out across all cores (default 128m gives 2-3 tasks for a
        # 300 MB corpus, serializing the parse UDF); at warehouse scale the
        # default is fine because files are plentiful
        # fine enough that task waves stay balanced at local[32] (a coarse
        # split leaves the last wave mostly idle); AQE re-coalesces shuffles
        .config("spark.sql.files.maxPartitionBytes", "3m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # shuffle + checkpoint blocks on tmpfs: /tmp sits on a single virtual
        # disk whose bandwidth does not grow with cores; with 128 GiB RAM the
        # spill path belongs in memory (on a real cluster this is local NVMe
        # per executor). SPARK_LOCAL_DIRS takes a comma list — Spark
        # round-robins blocks across dirs, so "tmpfs,/tmp" halves tmpfs RAM
        # pressure on runs whose live shuffle set approaches box RAM
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        # shuffle files and checkpoint blocks are only deleted when the
        # driver GC collects their dependency objects (ContextCleaner); the
        # default periodic GC (30 min) outlives a whole run, so with a 16g
        # rarely-collecting heap a multi-stage pipeline ACCUMULATES every
        # stage's shuffle on the local dir — ~100 GB of dead files at 25M
        # records, an OOM on a tmpfs local dir. The checkpoint discipline
        # makes each stage's shuffles garbage as soon as the next checkpoint
        # lands, so a 60 s periodic GC caps the live set at ~one stage
        .config("spark.cleaner.periodicGC.interval", "60s")
        # shuffle/spill codec: lz4, the Spark default, pinned so a cluster
        # default cannot swap it
        .config("spark.io.compression.codec", "lz4")
        # G1's GCLocker allocation-retry default (2) turns JNI critical
        # sections (lz4 codec, Arrow) into allocation-stall storms whenever
        # Tungsten asks for a 16-128 MiB humongous region while the locker
        # is held: every 32-thread run log showed "Retried waiting for
        # GCLocker too often" bursts, and the retry=2 premature
        # allocation-failure GCs stalled all workers at once. Raising the
        # retry count measured 152 -> 128 s at 32c with the warm-state ramp
        # gone entirely (run spread 238-152 -> 132-128 s) and no effect at
        # 8 threads, where GC keeps up and the storm never forms
        # (bench_runs/r04/ab_gclocker_summary.json). Off-heap Tungsten
        # (memory.offHeap 24g) was the A/B alternative and lost: 142 s best
        # with a 224-351 s spread (ab_offheap_32c.json).
        .config("spark.driver.extraJavaOptions", _GC_OPTS)
        # local mode has no separate executor JVM; on a real cluster the
        # executors are where the stall happens, so ship the same flags
        .config("spark.executor.extraJavaOptions", _GC_OPTS)
        # Straggler/hang insurance (guide §2.6): a reused Python worker can
        # deadlock against the JVM on the Arrow socket (observed r06: task
        # thread in EPoll.wait on its reader while the worker sits with
        # 33 MB unread input and a full 4 MB send queue — a worker/socket
        # handoff race; the whole 32-core box idles behind ONE task forever,
        # which is indistinguishable from the r05 driver bench's rc-124
        # nothing-written timeout). Speculation re-launches any task 4x
        # slower than the stage median once 75% of the stage is done: a
        # hung task's speculative copy completes, the original is killed,
        # and a future hang costs seconds instead of the bench. All
        # pipeline tasks are pure reads + Spark-committed writes
        # (idempotent under retry/speculation). worker.reuse stays ON —
        # disabling it also closes the race but every fresh worker re-pays
        # the numpy/pandas import (~0.5 s/task), flooring short Python
        # stages (measured: sf0.1 near-dup query 6.1 s with reuse off vs
        # ~2 s on; flagship indifferent — 259.1 vs 259.7 s).
        .config("spark.python.worker.reuse", "true")
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.75")
    )
    # generic conf pass-through for single-variable A/B arms:
    # SPARK_GRAFT_EXTRA_CONF="spark.memory.fraction=0.75;spark.x=y"
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    # stage-profile capture (scripts/stage_profile.py reads these): event
    # logs carry per-stage submit/complete times, task counts and task-time
    # sums — the ground truth for "which stages are core-count-independent"
    evlog = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", evlog
        )
    return builder.getOrCreate()
