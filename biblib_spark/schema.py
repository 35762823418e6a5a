"""Spark schemas for the citation engine.

CITATION_SCHEMA mirrors the reference ``Citation`` struct
(/root/reference/src/lib.rs:276-320); see FIXTURES.md §2. The corpus input
shape is mandated by BASELINE.json ``input_hint``:
``(repo, path, commit, lang, content)``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

AUTHOR_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("given_name", StringType()),
        StructField("middle_name", StringType()),
        StructField("affiliations", ArrayType(StringType())),
    ]
)

# NOT DateType: month/day are independently nullable and year-only is legal
# (reference src/lib.rs:249-257).
DATE_SCHEMA = StructType(
    [
        StructField("year", IntegerType()),
        StructField("month", IntegerType()),
        StructField("day", IntegerType()),
    ]
)

CITATION_SCHEMA = StructType(
    [
        StructField("citation_type", ArrayType(StringType())),
        StructField("title", StringType()),
        StructField("authors", ArrayType(AUTHOR_SCHEMA)),
        StructField("journal", StringType()),
        StructField("journal_abbr", StringType()),
        StructField("date", DATE_SCHEMA),
        StructField("volume", StringType()),
        StructField("issue", StringType()),
        StructField("pages", StringType()),
        StructField("issn", ArrayType(StringType())),
        StructField("doi", StringType()),
        StructField("accession_number", StringType()),
        StructField("pmid", StringType()),
        StructField("pmc_id", StringType()),
        StructField("abstract_text", StringType()),
        StructField("keywords", ArrayType(StringType())),
        StructField("urls", ArrayType(StringType())),
        StructField("language", StringType()),
        StructField("mesh_terms", ArrayType(StringType())),
        StructField("publisher", StringType()),
        StructField("extra_fields", MapType(StringType(), ArrayType(StringType()))),
    ]
)

# One-pass diagnostics output (reference parse_with_diagnostics,
# src/diagnostics.rs:111-119): citations AND errors from a single parse of
# each payload, discriminated by ``kind`` — the per-payload (results, errors)
# pair re-expressed as a union table. record_idx preserves per-payload record
# order (semantically meaningful — election tie-breaks and author order depend
# on it, SURVEY.md §7.3); error rows carry the reference's error data
# (src/error.rs:74-158) with byte-offset spans.
DIAGNOSTICS_SCHEMA = StructType(
    [
        StructField("content_sha", StringType(), nullable=False),
        StructField("row_id", LongType(), nullable=False),
        StructField("kind", StringType(), nullable=False),  # citation | error
        StructField("record_idx", IntegerType()),
        StructField("format", StringType()),
        StructField("citation", CITATION_SCHEMA),
        StructField("error_line", IntegerType()),
        StructField(
            "error_span",
            StructType(
                [StructField("start", LongType()), StructField("end", LongType())]
            ),
        ),
        StructField("error_kind", StringType()),
        StructField("error_msg", StringType()),
    ]
)

# Corpus input (BASELINE.json input_hint) + a deterministic row_id the
# synthesizer assigns (payload index); real ingest derives it from ordering
# metadata or a content-addressed key.
CORPUS_SCHEMA = StructType(
    [
        StructField("row_id", LongType(), nullable=False),
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
    ]
)
