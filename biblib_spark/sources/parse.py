"""The parse stage: corpus rows -> (parsed citation rows, quarantine rows).

Spark shape (SURVEY.md §3.1): one projection computes ``content_sha``; one
``mapInPandas`` runs ``parse_payload`` (format sniff + per-format Python
kernel) over Arrow batches and emits already-exploded citation rows with a
``record_idx`` that preserves per-payload record order, plus one row per
parse error. Parsing is embarrassingly parallel per content row — no
shuffle in this stage; the only JVM<->Python boundary is the Arrow batch
transfer. ``parse_corpus`` and ``parse_corpus_quarantine`` are the two
halves of that one pass.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biblib_spark.kernels import detect
from biblib_spark.kernels.bib import parse_bib
from biblib_spark.kernels.csvfmt import parse_csv, parse_ictrp_csv
from biblib_spark.kernels.endnote_xml import parse_endnote_xml
from biblib_spark.kernels.enw import parse_enw
from biblib_spark.kernels.ictrp_xml import parse_ictrp_xml
from biblib_spark.kernels.pubmed import parse_pubmed
from biblib_spark.kernels.ris import parse_ris
from biblib_spark.schema import DIAGNOSTICS_SCHEMA

# Parser registry: format label -> kernel returning (citations, errors).
# Formats land here as their kernels are implemented (SURVEY.md §7.2).
# Generic CSV is registered but never auto-detected (lib.rs:468) — it only
# runs when a corpus row's format column is explicitly "CSV".
PARSERS: dict[str, Callable[[str], tuple[list[dict], list[dict]]]] = {
    detect.FMT_RIS: parse_ris,
    detect.FMT_PUBMED: parse_pubmed,
    detect.FMT_ENW: parse_enw,
    detect.FMT_ICTRP_CSV: parse_ictrp_csv,
    detect.FMT_CSV: parse_csv,
    detect.FMT_ENDNOTE_XML: parse_endnote_xml,
    detect.FMT_ICTRP_XML: parse_ictrp_xml,
    detect.FMT_BIB: parse_bib,
}


def parse_payload(
    text: str | None, fmt: str | None = None
) -> tuple[str, list[dict], list[dict]]:
    """One payload -> (format, citations, errors) — the one detect->parse
    decision every caller shares (reference parse_with_diagnostics,
    src/diagnostics.rs:111-119).

    ``fmt`` pins a parser; None sniffs it with ``detect_format``. A NULL
    payload parses as the empty string. A format with no parser yields no
    citations and one ``unknown_format`` error row.
    """
    text = text if isinstance(text, str) else ""
    if fmt is None:
        fmt = detect.detect_format(text)
    parser = PARSERS.get(fmt)
    if parser is None:
        return fmt, [], [
            {
                "error_line": None,
                "error_span": None,
                "error_kind": "unknown_format",
                "error_msg": "Unknown or unsupported citation format",
            }
        ]
    citations, errors = parser(text)
    return fmt, citations, errors


def _diag_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One parse per payload emitting BOTH citation and error rows
    (reference parse_with_diagnostics, src/diagnostics.rs:111-119)."""
    cols = [f.name for f in DIAGNOSTICS_SCHEMA.fields]
    for pdf in batches:
        out: dict[str, list[Any]] = {c: [] for c in cols}

        def emit(sha, row_id, kind, idx, fmt, citation, err):
            out["content_sha"].append(sha)
            out["row_id"].append(row_id)
            out["kind"].append(kind)
            out["record_idx"].append(idx)
            out["format"].append(fmt)
            out["citation"].append(citation)
            out["error_line"].append(err.get("error_line") if err else None)
            out["error_span"].append(err.get("error_span") if err else None)
            out["error_kind"].append(err.get("error_kind") if err else None)
            out["error_msg"].append(err.get("error_msg") if err else None)

        for sha, row_id, content in zip(
            pdf["content_sha"], pdf["row_id"], pdf["content"]
        ):
            fmt, citations, errors = parse_payload(content)
            for idx, citation in enumerate(citations):
                emit(sha, row_id, "citation", idx, fmt, citation, None)
            for err in errors:
                emit(sha, row_id, "error", None, fmt, None, err)
        yield pd.DataFrame({c: pd.Series(out[c], dtype="object") for c in cols})


def parse_with_diagnostics(corpus: DataFrame) -> DataFrame:
    """Corpus -> union of citation and error rows in ONE parse pass
    (DIAGNOSTICS_SCHEMA). The reference's ``parse_with_diagnostics`` returns
    (citations, errors) per payload; here both live in one DataFrame keyed by
    ``kind`` so a single scan (or checkpointed stage) serves the parsed view
    AND the quarantine view — no second parse of 100 TB of payloads.

    ``content_sha`` (sha256 of the payload) is the per-row invariant vs the
    reference (BASELINE.json input_hint), computed JVM-side."""
    ingested = corpus.select(
        F.sha2(F.col("content"), 256).alias("content_sha"), "row_id", "content"
    )
    return ingested.mapInPandas(_diag_partition, schema=DIAGNOSTICS_SCHEMA)


def split_diagnostics(diag: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Diagnostics union -> (parsed view, quarantine view).

    parsed: (content_sha, row_id, record_idx, format, citation), one row per
    citation; quarantine: (content_sha, row_id, format, error_line,
    error_span, error_kind, error_msg), one row per parse error — the batch
    never fails for one bad record (reference src/error.rs:74-158)."""
    parsed = diag.filter(F.col("kind") == "citation").select(
        "content_sha",
        "row_id",
        F.col("record_idx").cast("int").alias("record_idx"),
        "format",
        "citation",
    )
    quarantine = diag.filter(F.col("kind") == "error").select(
        "content_sha",
        "row_id",
        "format",
        "error_line",
        "error_span",
        "error_kind",
        "error_msg",
    )
    return parsed, quarantine


def parse_corpus(corpus: DataFrame) -> DataFrame:
    """Corpus -> parsed citation rows (the parsed half of
    ``split_diagnostics``)."""
    return split_diagnostics(parse_with_diagnostics(corpus))[0]


def parse_corpus_quarantine(corpus: DataFrame) -> DataFrame:
    """Corpus -> quarantine rows (the error half of ``split_diagnostics``).

    To get both halves from one parse, checkpoint ``parse_with_diagnostics``
    once and split that."""
    return split_diagnostics(parse_with_diagnostics(corpus))[1]
