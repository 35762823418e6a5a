"""Per-stage profile of the clustering job at a given core count.

Usage: [taskset -c 0-N] python scripts/profile_stages.py <cores> <payloads> [seed] [repeats]
Prints one JSON line with per-stage seconds and row counts. Each stage is
eagerly materialized (localCheckpoint) so timings don't overlap. With
repeats > 1 the whole staged pipeline is re-run in-process and the BEST time
per stage across repeats is reported (the first repeat pays C2 JIT — same
plateau discipline as scripts/cluster_job.py), plus the full per-repeat
matrix for fixed-cost fitting across core counts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cores = int(sys.argv[1])
    num_payloads = int(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 1

    from biblib_spark.corpus import make_corpus
    from biblib_spark.operators.candidates import candidate_pairs
    from biblib_spark.operators.components import assign_clusters
    from biblib_spark.operators.dedupe import (
        DedupConfig,
        dedupe_corpus,
        features_from_corpus,
    )
    from biblib_spark.operators.election import elect_representatives
    from biblib_spark.operators.verify import verify_pairs
    from biblib_spark.session import get_spark

    spark = get_spark(f"profile_{cores}", cores=cores)
    cfg = DedupConfig()

    corpus_path = f"/tmp/biblib_corpus_v5_{num_payloads}_{seed}.parquet"
    if not os.path.exists(corpus_path):
        make_corpus(spark, num_payloads, records_per_payload=6, seed=seed).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)

    # warmup (JIT, python workers)
    dedupe_corpus(make_corpus(spark, 50, records_per_payload=6, seed=seed)).count()

    all_stages: list[dict[str, float]] = []
    all_totals: list[float] = []
    counts: dict[str, int] = {}

    for _ in range(repeats):
        stages: dict[str, float] = {}

        def mat(name, df):
            t0 = time.time()
            out = df.localCheckpoint(eager=True)
            counts[name] = out.count()
            stages[name] = round(time.time() - t0, 3)
            return out

        t_all = time.time()
        feat = mat("features", features_from_corpus(corpus, cfg))
        pairs = mat("candidates", candidate_pairs(feat, cfg))
        edges = mat(
            "verify",
            verify_pairs(pairs, feat, containment=cfg.containment_verify),
        )
        # assign_clusters checkpoints each union-find level eagerly while the
        # plan is BUILT, so time the call itself, then the final join
        # materialization
        t0 = time.time()
        clustered_df = assign_clusters(
            feat.select("rid", "source", "abstract_text", "doi"), edges
        )
        stages["cc_loop"] = round(time.time() - t0, 3)
        clustered = mat("components_join", clustered_df)
        mat("election", elect_representatives(clustered, cfg.source_preferences))
        all_totals.append(round(time.time() - t_all, 3))
        all_stages.append(stages)
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    best = {
        k: min(s[k] for s in all_stages) for k in all_stages[0]
    }
    spark.stop()
    print(
        json.dumps(
            {
                "cores": cores,
                "payloads": num_payloads,
                "stages": best,
                "all_stages": all_stages,
                "totals": all_totals,
                "counts": counts,
                "total": min(all_totals),
            }
        )
    )


if __name__ == "__main__":
    main()
