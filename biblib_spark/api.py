"""Public API facade — the reference's four entry points, re-expressed.

reference surface (src/lib.rs:338-469, src/diagnostics.rs:110-119,
src/dedupe.rs:356-500):

| reference                              | here                                |
|----------------------------------------|-------------------------------------|
| ``CitationParser::parse(text)``        | ``parse(text, format=...)``         |
| ``detect_and_parse(text)``             | ``detect_and_parse(text)``          |
| ``parse_with_diagnostics(text)``       | ``parse_with_diagnostics(text)``    |
| ``Deduplicator::find_duplicates``      | ``find_duplicates(records_df)`` /   |
|   ``[_with_sources](citations)``       | ``dedupe_corpus(corpus_df)``        |

The parse functions are plain Python over one payload (the same kernels the
Spark stages batch through Arrow), so library users can parse a string
without a SparkSession; deduplication is inherently collection-scale and
stays a DataFrame operator (``biblib_spark.operators.dedupe``).
"""

from __future__ import annotations

from typing import Any

from biblib_spark.kernels import detect
from biblib_spark.operators.dedupe import (  # noqa: F401 (re-export)
    DedupConfig,
    dedupe_corpus,
    dedupe_records as find_duplicates,
)

ParseResult = tuple[list[dict[str, Any]], list[dict[str, Any]]]


def detect_format(text: str) -> str:
    """Order-exact format sniff (reference detect_format, lib.rs:380-469)."""
    return detect.detect_format(text)


def parse(text: str, format: str | None = None) -> list[dict[str, Any]]:
    """Parse one payload into citation dicts; raises on unknown format.

    ``format`` pins a parser (reference ``CitationParser::parse`` with an
    explicit format); None auto-detects (reference ``detect_and_parse``).
    """
    citations, _errors = parse_with_diagnostics(text, format)
    return citations


def detect_and_parse(text: str) -> list[dict[str, Any]]:
    """Sniff + parse (reference detect_and_parse, lib.rs:380-469)."""
    return parse(text)


def parse_with_diagnostics(
    text: str, format: str | None = None
) -> ParseResult:
    """(citations, errors) from one payload — the batch never fails for one
    bad record (reference parse_with_diagnostics, diagnostics.rs:110-119)."""
    from biblib_spark.sources.parse import PARSERS, parse_payload

    fmt, citations, errors = parse_payload(text, format)
    if fmt not in PARSERS:
        raise ValueError(f"unknown or unsupported citation format: {fmt!r}")
    return citations, errors


def parse_rendered(
    text: str,
    filename: str = "<input>",
    format: str | None = None,
    color: bool = False,
) -> tuple[list[dict[str, Any]], list[str]]:
    """(citations, rendered diagnostic reports) from one payload.

    The pretty-printing analog of the reference's free-function
    ``parse_with_diagnostics`` (diagnostics.rs:110-119), which maps the error
    side through ``to_diagnostic(filename, source)``.  Our kernels quarantine
    per-record instead of failing the payload, so the error side is a LIST of
    rendered reports rather than a single string."""
    from biblib_spark.diagnostics import diagnostic_from_row

    citations, errors = parse_with_diagnostics(text, format)
    return citations, [
        diagnostic_from_row(e, filename, text, color=color) for e in errors
    ]
