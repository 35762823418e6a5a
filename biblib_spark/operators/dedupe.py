"""End-to-end tiered deduplication pipeline (SURVEY.md §2.7-2.8, §3.3).

Dataflow (mirrors the reference find_duplicates_with_sources at
src/dedupe.rs:403-500, re-expressed as 6 Spark stages):

  features (M3/N1-N5)           one mapInArrow pass (kernels/features.py)
  -> candidates (C1-C5)         tiered equi-joins within year blocks
  -> verify (M4-M8)             SQL field matches + jaro/jw pandas UDF
  -> connected components (C6)  min-label propagation
  -> elect representative (M10) one window
  -> emit (rid, cluster_id, is_unique)

Scale notes: the only O(n²) surface is within candidate buckets, which are
capped (C7 star policy); everything else is equi-join + window. Features are
persisted once and reused by candidates/verify/election (preprocess-once,
dedupe.rs:566-590).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from biblib_spark.kernels.features import FEATURE_SCHEMA, FeatureRows
from biblib_spark.operators.candidates import candidate_pairs
from biblib_spark.operators.components import assign_clusters
from biblib_spark.operators.election import elect_representatives
from biblib_spark.operators.verify import verify_pairs


@dataclass
class DedupConfig:
    """Shingle/signature config is explicit: the correctness gate requires
    identical configs between runs (BASELINE.json north_rule)."""

    group_by_year: bool = True  # M1; default matches Deduplicator::new
    source_preferences: list[str] = field(default_factory=list)
    shingle_k: int = 4
    num_perm: int = 64
    bands: int = 16
    minhash_seed: int = 1815
    max_bucket: int = 64  # C7 star-policy cap per candidate bucket
    # C7: same pairs, no task holds a whole bucket; one extra shuffle, for
    # buckets past ~10^6 members
    salted_pairs: bool = False
    # the switches below exist so tests can isolate one candidate tier or
    # verify arm; every shipped caller keeps the defaults
    pmid_accession_tiers: bool = True  # C1 (the DOI tier is always on)
    simhash_enabled: bool = True
    prefix_tier: bool = True  # C4 prefix key (the suffix key is always on)
    containment_verify: bool = True  # C4 substring verify arm


# columns dedupe_records expects on its input, in FeatureRows.add's argument
# order; pmid / accession_number are optional (filled with NULL when absent)
# — they only feed the C1 identity tier
RECORD_COLS = [
    "rid",
    "source",
    "title",
    "journal",
    "journal_abbr",
    "volume",
    "pages",
    "issn",
    "doi",
    "pmid",
    "accession_number",
    "abstract_text",
    "year",
]

FEATURE_SPARK_SCHEMA = from_arrow_schema(FEATURE_SCHEMA)


def preprocess(records: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(RECORD_COLS) -> the feature table (kernels/features.py) in ONE
    mapInArrow pass: one Python evaluation node, no shuffle."""

    def _fn(batches):
        rows = FeatureRows(cfg)
        for batch in batches:
            for rec in zip(*(col.to_pylist() for col in batch.columns)):
                rows.add(*rec)
            yield rows.finish()

    return records.select(*RECORD_COLS).mapInArrow(_fn, FEATURE_SPARK_SCHEMA)


def dedupe_features(feat: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Preprocessed+materialized features -> (rid, cluster_id, is_unique, source)."""
    cfg = cfg or DedupConfig()
    pairs = candidate_pairs(feat, cfg)
    dup_edges = verify_pairs(pairs, feat, containment=cfg.containment_verify)
    clustered = assign_clusters(feat.select("rid"), dup_edges)
    enriched = clustered.join(
        feat.select("rid", "source", "abstract_text", "doi"), "rid"
    )
    elected = elect_representatives(enriched, cfg.source_preferences)
    return elected.select("rid", "cluster_id", "is_unique", "source")


def dedupe_records(records: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """(RECORD_COLS) -> (rid, cluster_id, is_unique, source).

    Matches reference cluster semantics with dup-pair recall 1.0 relative to
    the predicate over generated candidates (see tests/reference_impl.py for
    the fixture oracle).
    """
    cfg = cfg or DedupConfig()
    for opt in ("pmid", "accession_number"):
        if opt not in records.columns:
            records = records.withColumn(opt, F.lit(None).cast("string"))
    # EAGERLY materialized once: the candidate tiers fan out into several
    # concurrent branches of one job, and a lazy cache would be racily
    # recomputed by each branch (parse + MinHash x4). localCheckpoint also
    # truncates lineage for the downstream iterative CC joins.
    feat = preprocess(records, cfg).localCheckpoint(eager=True)
    return dedupe_features(feat, cfg)


def features_from_corpus(
    corpus: DataFrame,
    cfg: DedupConfig | None = None,
    record_idx_bits: int = 20,
    source_col: str | None = None,
) -> DataFrame:
    """Fused fast path: corpus -> the feature table (kernels/features.py) in
    ONE mapInArrow.

    Parse + flatten + features in a single Python pass — one JVM<->Python
    Arrow round-trip instead of two, and never the full citation struct with
    its array/map fields.

    ``source_col`` (M12 sources-zip): name of a corpus column carrying the
    per-payload source register (e.g. the registry feed a payload came from);
    every citation of a payload inherits it, mirroring the reference's
    parallel sources slice (src/dedupe.rs:403-434). When None, the detected
    format stands in.
    """
    cfg = cfg or DedupConfig()
    shift = 1 << record_idx_bits
    in_cols = ["row_id", "content"] + ([source_col] if source_col else [])

    def _fn(batches):
        from biblib_spark.sources.parse import parse_payload

        rows = FeatureRows(cfg)
        for arrow_batch in batches:
            names = arrow_batch.schema.names
            row_ids = arrow_batch.column(names.index("row_id")).to_pylist()
            contents = arrow_batch.column(names.index("content")).to_pylist()
            sources = (
                arrow_batch.column(names.index(source_col)).to_pylist()
                if source_col
                else row_ids
            )
            for row_id, content, src in zip(row_ids, contents, sources):
                # unparseable payloads yield no citations, so no feature rows
                fmt, citations, _errors = parse_payload(content)
                if len(citations) > shift:
                    # rid = row_id * shift + idx would alias the next payload
                    raise ValueError(
                        f"payload row_id={row_id} yields {len(citations)} "
                        f"citations, more than record_idx_bits="
                        f"{record_idx_bits} can address"
                    )
                for idx, c in enumerate(citations):
                    rows.add_citation(
                        int(row_id) * shift + idx, src if source_col else fmt, c
                    )
            yield rows.finish()

    return corpus.select(*in_cols).mapInArrow(_fn, FEATURE_SPARK_SCHEMA)


def dedupe_corpus(
    corpus: DataFrame,
    cfg: DedupConfig | None = None,
    source_col: str | None = None,
) -> DataFrame:
    """Corpus table -> clusters via the fused fast path.

    The feature table fans out to the candidate-key scan, both verify joins
    and the election join, so it is pinned once as a columnar parquet spill
    on the shuffle-local dir (plans/spill.py): each consumer prunes to the
    columns it reads (the key scan reads 8 of 16, the election join 4),
    where a checkpoint would hand every branch every column.
    """
    from biblib_spark.plans.spill import spill_to_parquet

    cfg = cfg or DedupConfig()
    feat = features_from_corpus(corpus, cfg, source_col=source_col)
    feat, _ = spill_to_parquet(feat, "dedup-features")
    return dedupe_features(feat, cfg)


def records_from_parsed(parsed: DataFrame, record_idx_bits: int = 20) -> DataFrame:
    """Adapt parse output (``parse_corpus``) to dedup input.

    rid = row_id << record_idx_bits | record_idx keeps the reference's input
    order (payload order, then record order within the payload) so election
    tie-breaks match. Requires record_idx < 2^record_idx_bits (a larger one
    raises instead of aliasing the next payload's rids); at 10^12 rows
    switch rid to a 128-bit (two-long) key.
    """
    c = F.col("citation")
    idx = F.col("record_idx")
    rid = F.when(
        idx >= 1 << record_idx_bits,
        F.raise_error(
            F.concat(
                F.lit("record_idx "),
                idx.cast("string"),
                F.lit(f" does not fit record_idx_bits={record_idx_bits}"),
            )
        ),
    ).otherwise(F.col("row_id") * (1 << record_idx_bits) + idx)
    return parsed.select(
        rid.alias("rid"),
        F.lit(None).cast("string").alias("source"),
        c["title"].alias("title"),
        c["journal"].alias("journal"),
        c["journal_abbr"].alias("journal_abbr"),
        c["volume"].alias("volume"),
        c["pages"].alias("pages"),
        c["issn"].alias("issn"),
        c["doi"].alias("doi"),
        c["pmid"].alias("pmid"),
        c["accession_number"].alias("accession_number"),
        c["date"]["year"].alias("year"),
        c["abstract_text"].alias("abstract_text"),
    )
