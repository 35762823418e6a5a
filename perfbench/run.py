"""Citation-engine benchmark: one workload per invocation at local[nproc].

    python3 perfbench/run.py --workload review --seed 1 --seconds 30 --trace 0

Run from the repository root. Set-up (Spark session, input scan, warmup
calls on the measured input) is timed as ``setup_s``; then the workload's call
repeats for ``--seconds`` and every call's output is checked against the
generator's ground truth. ``--trace 1`` adds one traced call whose layers are
wrapped in spans and Spark job groups, attributes the event log's stage
metrics to them, and times the per-record kernels outside Spark. The last
line of standard output is one JSON object; everything above it is the
human-readable report. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")  # per-run scratch, removed at exit
CACHE = os.path.join(ROOT, ".bench_cache")  # generated inputs, kept
DRIVER_MEMORY = "2g"
MIN_CALLS = 3
# run_pipeline calls on the completed work_dir per timed call: one takes well
# under a second, so a single sample would mostly measure scheduling noise
RESUME_CALLS = 3


@dataclass
class CallResult:
    wall_s: float = 0.0
    resumes: list[float] = field(default_factory=list)
    rss_mb: float = 0.0
    scratch_mb: float = 0.0
    recall: float = 0.0
    precision: float = 0.0
    clusters: int = 0
    problems: list[str] = field(default_factory=list)

    @property
    def resume_s(self) -> float:
        return statistics.median(self.resumes) if self.resumes else 0.0

    @property
    def ok(self) -> bool:
        return not self.problems


def cores_available() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(trace: bool) -> dict:
    """Environment for the Spark JVM and its Python workers; returns a record
    of the run environment for the report."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_LOCAL_DIRS": local,  # library default is /dev/shm, i.e. RAM
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,  # library default 16g
            # Python workers import biblib_spark from the checkout
            "PYTHONPATH": ROOT + (os.pathsep + prev if prev else ""),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # a fixed-size heap, touched at start-up, so neither resident
            # memory nor page-fault time follows the collector's heap-sizing
            # and region-use decisions from call to call
            "SPARK_GRAFT_EXTRA_CONF": "spark.ui.showConsoleProgress=false;"
            f"spark.driver.defaultJavaOptions=-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        }
    )
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(WORK, "eventlog")
    cpu = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next(l.split(":", 1)[1].strip() for l in f if l.startswith("model name"))
    except (OSError, StopIteration):
        pass
    return {
        "cores": cores_available(),
        "cpu": cpu,
        "ram_gb": round(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30, 1),
        "driver_memory": DRIVER_MEMORY,
        "spark_local_dirs": local,
        "python": platform.python_version(),
    }


def become_subreaper() -> None:
    """Make orphaned descendants (Spark's Python daemon and its forked
    workers, once the JVM has gone) children of this process, so that
    reap_descendants can wait for every one of them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_descendants(grace_s: float = 15.0) -> None:
    """Wait until no process below this one is left; SIGKILL whatever is
    still running after ``grace_s``."""
    from perfbench.sampler import _tree

    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        pids = [p for p in _tree(me) if p != me]
        if not pids:
            return
        if time.monotonic() > deadline:
            for p in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def tail(samples: list[float]) -> str:
    """Highest percentile with at least ten samples beyond it."""
    n = len(samples)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n - math.ceil(p / 100 * n) >= 10:
            q = statistics.quantiles(samples, n=1000, method="inclusive")
            return f"p{p:g}={q[int(p * 10) - 1]:.4f}"
    return "no tail percentile (needs >= 11 samples)"


class Bench:
    def __init__(self, args):
        from perfbench import workloads

        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.W = workloads
        self.local_dir = os.environ["SPARK_LOCAL_DIRS"]
        self.spark = None
        self.jvm_pid = None

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict:
        # input synthesis and ground truth are the benchmark's work, not the
        # program's: both run before the session starts and stay out of setup_s
        path, gen_s = self.W.materialize_input(
            CACHE, self.wl, self.args.seed, cores_available())
        t_truth = time.perf_counter()
        self.truth = self.W.ground_truth(self.wl, self.args.seed)
        truth_s = time.perf_counter() - t_truth

        from biblib_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=cores_available())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        session_s = time.perf_counter() - t0

        t1 = time.perf_counter()
        self.corpus = self.spark.read.parquet(path)
        for root, _d, files in os.walk(path):  # page the input in
            for name in files:
                with open(os.path.join(root, name), "rb") as f:
                    while f.read(1 << 20):
                        pass
        load_s = time.perf_counter() - t1

        # warmup on the measured input itself: same scan shape, same AQE branches
        t2 = time.perf_counter()
        for i in range(self.wl.warmup_calls):
            warm = self.call(-1 - i)
            if not warm.ok:
                raise RuntimeError(f"warmup call failed its checks: {warm.problems}")
            self.hygiene()
        warm_s = time.perf_counter() - t2
        return {
            "setup_s": session_s + load_s + warm_s,
            "session_s": session_s,
            "load_s": load_s,
            "warmup_s": warm_s,
            "gen_s": gen_s,
            "truth_s": truth_s,
        }

    # -- one call ---------------------------------------------------------
    def call(self, i: int, tracer=None) -> CallResult:
        from perfbench.sampler import PeakSampler

        span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
        r = CallResult()
        if self.wl.name == "review":
            out = os.path.join(WORK, "out", f"call{i}")
            with PeakSampler(self.jvm_pid, self.local_dir) as smp:
                t = time.perf_counter()
                with span("call"):
                    self.W.run_review(self.corpus, out)
                r.wall_s = time.perf_counter() - t
            r.resumes = [r.wall_s]  # no checkpoint: a re-run is a full call
        else:
            work_dir = os.path.join(WORK, "pipeline")
            shutil.rmtree(work_dir, ignore_errors=True)
            with PeakSampler(self.jvm_pid, self.local_dir) as smp:
                t = time.perf_counter()
                with span("call"):
                    out = self.W.run_resume(self.corpus, work_dir)
                r.wall_s = time.perf_counter() - t
                stamps = self.W.marker_stamps(work_dir)
                for _ in range(1 if tracer else RESUME_CALLS):
                    t = time.perf_counter()
                    with span("resume"):
                        self.W.run_resume(self.corpus, work_dir)
                    r.resumes.append(time.perf_counter() - t)
            if self.W.marker_stamps(work_dir) != stamps or len(stamps) != 2:
                r.problems.append(f"resume did not reuse both completed stages: {stamps}")
        r.rss_mb, r.scratch_mb = smp.rss_mb, smp.scratch_mb
        problems, r.recall, r.precision, r.clusters = self.W.check_clusters(out, self.truth)
        r.problems += problems
        return r

    def hygiene(self) -> None:
        """Between calls, outside the timing: drop the call's spills,
        checkpoints and outputs, as a long-running caller would."""
        from biblib_spark.plans.spill import cleanup_all

        cleanup_all()
        sc = self.spark.sparkContext
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)

    def timed_loop(self) -> list[CallResult]:
        results: list[CallResult] = []
        t0 = time.perf_counter()
        cpu0 = cpu_times()
        while True:
            try:
                r = self.call(len(results))
            except Exception as exc:  # a failed call is counted, the run goes on
                traceback.print_exc()
                r = CallResult(problems=[f"raised {type(exc).__name__}: {exc}"])
            results.append(r)
            self.hygiene()
            elapsed = time.perf_counter() - t0
            per_call = elapsed / len(results)
            if len(results) >= MIN_CALLS and elapsed + per_call > self.args.seconds:
                cpu1 = cpu_times()
                # share of CPU time the hypervisor gave to other guests
                self.steal_frac = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
                return results

    # -- traced call --------------------------------------------------------
    def traced(self) -> tuple[CallResult, dict]:
        from perfbench.sampler import dir_bytes
        from perfbench.trace import Tracer
        from pyspark.sql import functions as F

        tracer = Tracer(self.spark, os.path.join(WORK, "barriers"))
        with tracer.patched(self.W.trace_targets(self.wl.name)):
            r = self.call(-100, tracer)
        counts = {}
        feat_paths = tracer.outputs.get("dedupe", [])
        records = self.W.parquet_rows(feat_paths)
        pairs = self.W.parquet_rows(tracer.outputs.get("candidates", []))
        edges = self.W.parquet_rows(tracer.outputs.get("verify", []))
        counts["dedupe.records_out"] = records
        counts["dedupe.out_mb"] = self.W.parquet_mb(feat_paths)
        counts["candidates.pairs_out"] = pairs
        counts["candidates.pairs_per_record"] = pairs / records if records else 0.0
        counts["verify.edges_out"] = edges
        counts["verify.edge_yield"] = edges / pairs if pairs else 0.0
        counts["components.clusters_out"] = r.clusters
        quarantine = 0
        if "sources" in tracer.outputs:
            import pyarrow.parquet as pq

            for p in tracer.outputs["sources"]:
                kinds = pq.read_table(p, columns=["kind"]).column("kind").to_pylist()
                quarantine += sum(k == "error" for k in kinds)
        counts["sources.quarantine_rows"] = quarantine
        resume_spans = [s for s in tracer.spans if s.name == "resume"]
        counts["checkpoint.written_mb"] = (
            dir_bytes(os.path.join(WORK, "pipeline")) / 2**20 if resume_spans else 0.0
        )
        counts["checkpoint.resume_wall_s"] = sum(s.end - s.start for s in resume_spans)

        # title pairs for the kernel timings: candidates whose titles differ
        feat = tracer.inputs["candidates"][0].select("rid", "norm_title")
        cand = self.spark.read.parquet(tracer.outputs["candidates"][-1])
        rows = (
            cand.join(feat.toDF("a", "ta"), "a")
            .join(feat.toDF("b", "tb"), "b")
            .where("ta <> tb")
            .orderBy(F.xxhash64("a", "b"))
            .limit(2000)
            .select("ta", "tb")
            .collect()
        )
        self.title_pairs = [(x["ta"], x["tb"]) for x in rows]
        self.hygiene()
        self.tracer = tracer
        return r, counts

    # -- teardown -----------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark and end the gateway JVM; reap_descendants then waits
        for the Python daemon and workers it leaves behind."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def summarize(results: list[CallResult], setup: dict, truth_records: int) -> dict:
    ok = [r for r in results if r.ok]
    walls = [r.wall_s for r in ok]
    resumes = [x for r in ok for x in r.resumes]
    wall = statistics.median(walls)
    return {
        "wall_s": (wall, "s", walls),
        "records_per_s": (truth_records / wall, "1/s", [truth_records / w for w in walls]),
        "resume_s": (statistics.median(resumes), "s", resumes),
        "setup_s": (setup["setup_s"], "s", [setup["setup_s"]]),
        "peak_rss_mb": (statistics.median(r.rss_mb for r in ok), "MB", [r.rss_mb for r in ok]),
        "scratch_peak_mb": (
            statistics.median(r.scratch_mb for r in ok), "MB", [r.scratch_mb for r in ok]),
        "work_recall": (statistics.median(r.recall for r in ok), "ratio", [r.recall for r in ok]),
        "work_precision": (
            statistics.median(r.precision for r in ok), "ratio", [r.precision for r in ok]),
        "success_rate": (len(ok) / len(results), "ratio", [len(ok) / len(results)]),
    }


LAYER_UNITS = {"busy_frac": "ratio", "tasks": "count", "jobs": "count"}


def per_layer_unit(name: str) -> str:
    field_ = name.split(".", 1)[1]
    if field_ in LAYER_UNITS:
        return LAYER_UNITS[field_]
    if field_.endswith("_mb"):
        return "MB"
    if field_.endswith("_s"):
        return "s"
    if "_us_per_" in field_:
        return "us"
    if field_ in ("pairs_per_record", "edge_yield"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "biblib_spark", "operators", "dedupe.py")):
        print(f"perfbench: no biblib_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    become_subreaper()
    # a terminated run still stops Spark and waits for its processes below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    env = pin_environment(bool(args.trace))
    bench = Bench(args)
    try:
        setup = bench.setup()
        results = bench.timed_loop()
        if args.trace:
            traced, counts = bench.traced()
    finally:
        try:
            bench.stop()
        finally:
            reap_descendants()
    wl = bench.wl
    env.update(workload=wl.name, payloads=wl.payloads, mega_frac=wl.mega_frac,
               records=bench.truth.records, seed=args.seed,
               steal_frac_timed=round(bench.steal_frac, 4))
    print("environment: " + json.dumps(env))
    print("setup: " + ", ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    for i, r in enumerate(results):
        print(f"call {i}: wall_s={r.wall_s:.3f} resume_s={r.resume_s:.3f} "
              f"rss_mb={r.rss_mb:.0f} scratch_mb={r.scratch_mb:.1f} recall={r.recall:.4f} "
              f"precision={r.precision:.4f} {'ok' if r.ok else 'FAILED: ' + '; '.join(r.problems)}")
    failed = sum(not r.ok for r in results)
    attempted = len(results)
    if failed == attempted:
        print("perfbench: every timed call failed", file=sys.stderr)
        return 1
    e2e = summarize(results, setup, bench.truth.records)
    print(f"end-to-end ({wl.name}, seed {args.seed}, {attempted} calls, {failed} failed, "
          f"error_rate {failed / attempted:.3f}):")
    for name, (value, unit, samples) in e2e.items():
        print(f"  {name:16s} {value:12.4f} {unit:6s} median of n={len(samples)}; {tail(samples)}")

    if args.trace:
        from perfbench.eventlog import read_log
        from perfbench.kernels import kernel_timings
        from perfbench.trace import LAYER_FIELDS, LAYERS, PY_FIELDS, layer_metrics

        attempted += 1
        failed += not traced.ok
        stages, jobs = read_log(os.path.join(WORK, "eventlog"))
        metrics = layer_metrics(bench.tracer.spans, stages, jobs, env["cores"])
        metrics.update(counts)
        metrics.update(kernel_timings(args.seed, bench.title_pairs))
        untraced = e2e["wall_s"][0] + (e2e["resume_s"][0] if wl.name == "resume" else 0.0)
        metrics["trace.overhead_s"] = metrics["trace.wall_s"] - untraced
        print(f"traced call: {'ok' if traced.ok else 'FAILED: ' + '; '.join(traced.problems)}")
        print("  " + " " * 18 + "".join(f"{layer:>12s}" for layer in LAYERS))
        for f in LAYER_FIELDS + PY_FIELDS:
            print(f"  {f:18s}" + "".join(
                f"{metrics[f'{layer}.{f}']:12.3f}" if f"{layer}.{f}" in metrics else " " * 12
                for layer in LAYERS))
        selfs = sum(metrics[f"{layer}.wall_s"] for layer in LAYERS)
        print(f"  layer self times {selfs:.3f} s + uncovered {metrics['trace.uncovered_s']:.3f} s"
              f" = traced wall {metrics['trace.wall_s']:.3f} s;"
              f" overhead vs untraced {metrics['trace.overhead_s']:.3f} s")
        for k in sorted(metrics):
            if k.split(".")[0] not in LAYERS or k in counts:
                print(f"  {k:34s} {metrics[k]:14.4f} {per_layer_unit(k)}")
        out = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": v[0], "unit": v[1]} for k, v in e2e.items()}
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
