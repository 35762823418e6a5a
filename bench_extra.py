"""Extra benchmarks (guide §1.4): noop-sink phase isolation for the
flagship pipeline plus per-query noop timings — measurement only, separate
from the frozen bench.py protocol.

Usage: [taskset -c 0-N] python bench_extra.py [cores] [payloads]
Prints one JSON line. Each flagship phase is materialized behind a noop
sink (computes every column, discards output) so the numbers time the
computation, not a sink or the optimizer's count shortcuts.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    payloads = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000

    from pyspark.sql import functions as F

    from biblib_spark.operators.candidates import candidate_pairs
    from biblib_spark.operators.dedupe import (
        DedupConfig,
        dedupe_corpus,
        features_from_corpus,
    )
    from biblib_spark.operators.verify import verify_pairs
    from biblib_spark.plans.spill import cleanup_all, spill_to_parquet
    from biblib_spark.session import get_spark
    from scripts.cluster_job import _corpus_path

    spark = get_spark(f"bench_extra_{cores}", cores=cores)
    sc = spark.sparkContext
    cfg = DedupConfig()
    corpus = spark.read.parquet(_corpus_path(spark, payloads, 42))

    # warmup (plan-shape JIT)
    dedupe_corpus(spark.read.parquet(_corpus_path(spark, 30_000, 42)), cfg).count()

    out: dict = {"cores": cores, "payloads": payloads}

    sc.setJobDescription("phase: parse+features (noop)")
    out["features_noop_s"] = _noop(features_from_corpus(corpus, cfg))

    sc.setJobDescription("phase: features -> parquet spill")
    t0 = time.time()
    feat, _ = spill_to_parquet(features_from_corpus(corpus, cfg), "bx-feat")
    out["features_spill_s"] = round(time.time() - t0, 3)

    sc.setJobDescription("phase: candidate pairs (noop)")
    pairs = candidate_pairs(feat, cfg)
    out["candidates_noop_s"] = _noop(pairs)

    sc.setJobDescription("phase: candidates materialize")
    pairs_m = pairs.localCheckpoint(eager=True)
    out["n_candidates"] = pairs_m.count()

    sc.setJobDescription("phase: verify (noop)")
    edges = verify_pairs(pairs_m, feat, containment=cfg.containment_verify)
    out["verify_noop_s"] = _noop(edges)

    sc.setJobDescription("phase: full pipeline")
    t0 = time.time()
    out["records"] = dedupe_corpus(corpus, cfg).count()
    out["full_pipeline_s"] = round(time.time() - t0, 3)
    sc.setJobDescription(None)

    cleanup_all()
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
