"""End-to-end tiered deduplication pipeline (SURVEY.md §2.7-2.8, §3.3).

Dataflow (mirrors the reference find_duplicates_with_sources at
src/dedupe.rs:403-500, re-expressed as 6 Spark stages):

  normalize-project (M3/N1-N5)  one withColumns pass, Arrow UDFs
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
    # C7 salted pair generation: identical pairs, but no task ever holds a
    # whole bucket (salted size/min aggregation + streamed star join). Costs
    # one extra combinable shuffle — turn on when buckets can exceed ~10^6
    # members (boilerplate titles at 10^12-row scale); AQE handles the rest
    # locally, so the default favors the single-shuffle path
    salted_pairs: bool = False
    # C1 pmid/accession identity tiers (DOI is always on). Separately
    # switchable so recall harnesses can prove the SIMILARITY tiers'
    # coverage without registry-identifier shortcuts
    pmid_accession_tiers: bool = True
    simhash_enabled: bool = True
    simhash_max_title: int = 24
    # redundant while LSH is on (identical normalized titles -> identical
    # signatures -> same band buckets); enable when LSH is configured off
    exact_title_tier: bool = False
    # C4 containment: candidate admission on the first/last prefix_len chars
    # of norm_title, plus a substring verify arm for pairs whose jaro falls
    # below the reference thresholds (truncated/decorated titles)
    prefix_tier: bool = True
    suffix_tier: bool = True
    prefix_len: int = 24
    containment_verify: bool = True
    containment_min_len: int = 20


# columns dedupe_records expects on its input; pmid / accession_number are
# optional (filled with NULL when absent) — they only feed the C1 identity tier
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
    "year",
    "abstract_text",
]


def preprocess(records: DataFrame, cfg: DedupConfig) -> DataFrame:
    """M3 + N1-N5 + LSH/SimHash keys in ONE mapInPandas pass.

    A single Python evaluation node (one Arrow round-trip, one worker fan-out)
    instead of seven stacked pandas-UDF projections — at local[32] the stacked
    version was dominated by per-node Python evaluation overhead. No shuffle.
    """
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from biblib_spark.functions.minhash import _perm_params, lsh_keys_batch
    from biblib_spark.functions.simhash import simhash64
    from biblib_spark.kernels.norm import (
        format_issn,
        format_journal_name,
        normalize_title,
        normalize_volume,
    )

    out_schema = StructType(
        list(records.schema.fields)
        + [
            StructField("norm_title", StringType()),
            StructField("norm_journal", StringType()),
            StructField("norm_journal_abbr", StringType()),
            StructField("norm_volume", StringType()),
            StructField("norm_issn", ArrayType(StringType())),
            StructField("year_key", IntegerType()),
            StructField("lsh_keys", ArrayType(LongType())),
            StructField("simhash_keys", ArrayType(LongType())),
        ]
    )
    k = cfg.shingle_k
    num_perm, bands, seed = cfg.num_perm, cfg.bands, cfg.minhash_seed
    group_by_year = cfg.group_by_year
    simhash_on, sim_max = cfg.simhash_enabled, cfg.simhash_max_title

    def _fn(batches):
        a, b = _perm_params(num_perm, seed)

        def nt(x):
            return (normalize_title(x) or "") if isinstance(x, str) else ""

        def nj(x):
            return format_journal_name(x) if isinstance(x, str) else None

        def nv(x):
            return normalize_volume(x) if isinstance(x, str) else ""

        def ni(lst):
            if lst is None:
                return []
            return [f for f in (format_issn(v) for v in lst) if f is not None]

        def sim(t):
            if not simhash_on or not t or len(t) > sim_max:
                return []
            h = simhash64(t, k)
            return [(q << 16 | ((h >> (16 * q)) & 0xFFFF)) for q in range(4)]

        for pdf in batches:
            titles = pdf["title"].map(nt)
            pdf = pdf.assign(
                norm_title=titles,
                norm_journal=pdf["journal"].map(nj),
                norm_journal_abbr=pdf["journal_abbr"].map(nj),
                norm_volume=pdf["volume"].map(nv),
                norm_issn=pdf["issn"].map(ni),
                year_key=(
                    pdf["year"].fillna(0).astype("int32")
                    if group_by_year
                    else pd.Series(0, index=pdf.index, dtype="int32")
                ),
                lsh_keys=pd.Series(
                    lsh_keys_batch(titles.tolist(), k, a, b, bands),
                    index=pdf.index,
                ),
                simhash_keys=titles.map(sim),
            )
            yield pdf

    return records.mapInPandas(_fn, out_schema)


def dedupe_features(feat: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Preprocessed+materialized features -> (rid, cluster_id, is_unique, source)."""
    cfg = cfg or DedupConfig()
    pairs = candidate_pairs(feat, cfg)
    dup_edges = verify_pairs(
        pairs,
        feat,
        containment=cfg.containment_verify,
        containment_min_len=cfg.containment_min_len,
    )
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
    """Fused fast path: corpus -> dedup features in ONE mapInPandas.

    Parse + flatten + normalize + MinHash/SimHash in a single Python pass —
    one JVM<->Python Arrow round-trip instead of two, and only the ~10 slim
    columns the matcher reads (never the full citation struct with its
    array/map fields). ``abstract_text`` is reduced to a one-char presence
    marker — the election cascade only tests presence (dedupe.rs:513-530).

    ``source_col`` (M12 sources-zip): name of a corpus column carrying the
    per-payload source register (e.g. the registry feed a payload came from);
    every citation of a payload inherits it, mirroring the reference's
    parallel sources slice (src/dedupe.rs:403-434). When None, the detected
    format stands in.
    """
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from biblib_spark.functions.minhash import _perm_params, lsh_keys_batch
    from biblib_spark.functions.simhash import simhash64
    from biblib_spark.kernels import detect
    from biblib_spark.kernels.norm import (
        format_issn,
        format_journal_name,
        normalize_title,
        normalize_volume,
    )

    cfg = cfg or DedupConfig()
    schema = StructType(
        [
            StructField("rid", LongType(), False),
            StructField("source", StringType()),
            StructField("doi", StringType()),
            StructField("pmid", StringType()),
            StructField("accession_number", StringType()),
            StructField("year", IntegerType()),
            StructField("pages", StringType()),
            StructField("abstract_text", StringType()),
            StructField("norm_title", StringType()),
            StructField("norm_journal", StringType()),
            StructField("norm_journal_abbr", StringType()),
            StructField("norm_volume", StringType()),
            StructField("norm_issn", ArrayType(StringType())),
            StructField("year_key", IntegerType(), False),
            StructField("lsh_keys", ArrayType(LongType())),
            StructField("simhash_keys", ArrayType(LongType())),
        ]
    )
    k, num_perm, bands, seed = cfg.shingle_k, cfg.num_perm, cfg.bands, cfg.minhash_seed
    group_by_year = cfg.group_by_year
    simhash_on, sim_max = cfg.simhash_enabled, cfg.simhash_max_title
    shift = 1 << record_idx_bits

    in_cols = ["row_id", "content"] + ([source_col] if source_col else [])

    def _fn(batches):
        # mapInArrow, not mapInPandas: the output side builds pyarrow
        # arrays straight from the per-record lists — no pandas object
        # Series layer between the Python loop and the Arrow stream
        # (guide §4.2; measured on the pandas path: ~20 us/record of
        # DataFrame construction + conversion the kernel never needed)
        import pyarrow as pa

        from biblib_spark.sources.parse import PARSERS

        pa_schema = pa.schema(
            [
                pa.field("rid", pa.int64(), nullable=False),
                pa.field("source", pa.string()),
                pa.field("doi", pa.string()),
                pa.field("pmid", pa.string()),
                pa.field("accession_number", pa.string()),
                pa.field("year", pa.int32()),
                pa.field("pages", pa.string()),
                pa.field("abstract_text", pa.string()),
                pa.field("norm_title", pa.string()),
                pa.field("norm_journal", pa.string()),
                pa.field("norm_journal_abbr", pa.string()),
                pa.field("norm_volume", pa.string()),
                pa.field("norm_issn", pa.list_(pa.string())),
                pa.field("year_key", pa.int32(), nullable=False),
                pa.field("lsh_keys", pa.list_(pa.int64())),
                pa.field("simhash_keys", pa.list_(pa.int64())),
            ]
        )
        a, b = _perm_params(num_perm, seed)

        for arrow_batch in batches:
            names = arrow_batch.schema.names
            row_ids = arrow_batch.column(names.index("row_id")).to_pylist()
            contents = arrow_batch.column(names.index("content")).to_pylist()
            cols: dict[str, list] = {f.name: [] for f in schema.fields}
            sources = (
                arrow_batch.column(names.index(source_col)).to_pylist()
                if source_col
                else row_ids
            )
            for row_id, content, src in zip(row_ids, contents, sources):
                text = content if isinstance(content, str) else ""
                fmt = detect.detect_format(text)
                parser = PARSERS.get(fmt)
                if parser is None:
                    continue
                citations, _errors = parser(text)
                if len(citations) > shift:
                    # rid = row_id * shift + idx would alias the next payload
                    raise ValueError(
                        f"payload row_id={row_id} yields {len(citations)} "
                        f"citations, more than record_idx_bits="
                        f"{record_idx_bits} can address"
                    )
                for idx, c in enumerate(citations):
                    nt = normalize_title(c["title"] or "") or ""
                    year = c["date"]["year"] if c["date"] else None
                    cols["rid"].append(int(row_id) * shift + idx)
                    # M12 sources-zip: the per-record source register from the
                    # user-supplied source column; detected format otherwise
                    cols["source"].append(src if source_col else fmt)
                    cols["doi"].append(c["doi"])
                    cols["pmid"].append(c["pmid"])
                    cols["accession_number"].append(c["accession_number"])
                    cols["year"].append(year)
                    cols["pages"].append(c["pages"])
                    cols["abstract_text"].append(
                        "x" if c["abstract_text"] is not None else None
                    )
                    cols["norm_title"].append(nt)
                    cols["norm_journal"].append(
                        format_journal_name(c["journal"])
                        if c["journal"] is not None
                        else None
                    )
                    cols["norm_journal_abbr"].append(
                        format_journal_name(c["journal_abbr"])
                        if c["journal_abbr"] is not None
                        else None
                    )
                    cols["norm_volume"].append(
                        normalize_volume(c["volume"]) if c["volume"] is not None else ""
                    )
                    cols["norm_issn"].append(
                        [
                            f
                            for f in (format_issn(v) for v in c["issn"] or [])
                            if f is not None
                        ]
                    )
                    cols["year_key"].append(
                        (year if year is not None else 0) if group_by_year else 0
                    )
                    if simhash_on and nt and len(nt) <= sim_max:
                        h = simhash64(nt, k)
                        cols["simhash_keys"].append(
                            [(q << 16 | ((h >> (16 * q)) & 0xFFFF)) for q in range(4)]
                        )
                    else:
                        cols["simhash_keys"].append([])
            # batched MinHash over the whole Arrow batch (one segmented
            # broadcast instead of one numpy round-trip per record)
            cols["lsh_keys"] = lsh_keys_batch(cols["norm_title"], k, a, b, bands)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols[f.name], type=f.type)
                    for f in pa_schema
                ],
                schema=pa_schema,
            )

    return corpus.select(*in_cols).mapInArrow(_fn, schema)


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


def records_from_parsed(
    parsed: DataFrame,
    record_idx_bits: int = 20,
    source_col: str | None = None,
) -> DataFrame:
    """Adapt parse output (PARSED_SCHEMA) to dedup input.

    rid = row_id << record_idx_bits | record_idx keeps the reference's input
    order (payload order, then record order within the payload) so election
    tie-breaks match. Requires record_idx < 2^record_idx_bits (a larger one
    raises instead of aliasing the next payload's rids); at 10^12 rows
    switch rid to a 128-bit (two-long) key. ``source_col`` (M12): column on
    ``parsed`` carrying the per-payload source register.
    """
    c = F.col("citation")
    src = (
        F.col(source_col).cast("string")
        if source_col is not None
        else F.lit(None).cast("string")
    )
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
        src.alias("source"),
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
