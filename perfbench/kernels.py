"""Single-thread timings of the per-record kernels, outside Spark.

Parse kernels run over generated RIS and PubMed payloads; the similarity and
signature kernels run over title pairs sampled from the traced call's
candidate pairs whose normalized titles differ.
"""

from __future__ import annotations

import statistics
import time


def _per_item_us(fn, items: int, min_s: float = 0.3, reps: int = 5) -> float:
    """Median over ``reps`` timed passes (each repeated to ``min_s``)."""
    times = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            el = time.perf_counter() - t0
            if el >= min_s / reps:
                break
        times.append(el / n)
    return statistics.median(times) / max(items, 1) * 1e6


def kernel_timings(seed: int, title_pairs: list[tuple[str, str]]) -> dict[str, float]:
    from biblib_spark.corpus import payload_text
    from biblib_spark.functions.minhash import _perm_params, lsh_keys_batch
    from biblib_spark.functions.simhash import simhash64
    from biblib_spark.kernels.pubmed import parse_pubmed
    from biblib_spark.kernels.ris import parse_ris
    from biblib_spark.kernels.similarity import jaro_batch
    from biblib_spark.operators.dedupe import DedupConfig

    out = {}
    for key, parser, first in (
        ("kernels.ris_us_per_record", parse_ris, 0),
        ("kernels.pubmed_us_per_record", parse_pubmed, 1),
    ):
        texts = [payload_text(p, 6, seed) for p in range(first, 400, 2)]
        records = sum(len(parser(t)[0]) for t in texts)

        def parse_all(texts=texts, parser=parser):
            for t in texts:
                parser(t)

        out[key] = _per_item_us(parse_all, records)

    a_list = [a for a, _ in title_pairs]
    b_list = [b for _, b in title_pairs]
    out["kernels.jaro_us_per_pair"] = _per_item_us(
        lambda: jaro_batch(a_list, b_list), len(title_pairs)
    )
    cfg = DedupConfig()
    titles = sorted(set(a_list) | set(b_list))
    pa, pb = _perm_params(cfg.num_perm, cfg.minhash_seed)
    out["functions.minhash_us_per_title"] = _per_item_us(
        lambda: lsh_keys_batch(titles, cfg.shingle_k, pa, pb, cfg.bands), len(titles)
    )
    out["functions.simhash_us_per_title"] = _per_item_us(
        lambda: [simhash64(t, cfg.shingle_k) for t in titles], len(titles)
    )
    return out
