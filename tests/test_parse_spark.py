"""Parse stage + corpus generator on Spark."""

from __future__ import annotations

from pyspark.sql import functions as F

from biblib_spark.corpus import make_corpus, n_variants, payload_text
from biblib_spark.kernels.citation import empty_citation
from biblib_spark.kernels.detect import detect_format
from biblib_spark.schema import CITATION_SCHEMA
from biblib_spark.sources.parse import parse_corpus, parse_corpus_quarantine


def test_corpus_deterministic():
    a = payload_text(2, 6, seed=42)
    assert a == payload_text(2, 6, seed=42)
    assert detect_format(a) == "RIS"
    b = payload_text(3, 6, seed=42)
    assert detect_format(b) == "PubMed"


def test_citation_keys_match_schema():
    """Kernels emit ``empty_citation()``'s keys; the Spark struct must list
    the same fields in the same order."""
    assert list(empty_citation()) == CITATION_SCHEMA.fieldNames()


def test_parse_corpus_counts_and_schema(spark):
    corpus = make_corpus(spark, num_payloads=40, records_per_payload=6, seed=42)
    parsed = parse_corpus(corpus).cache()

    # expected record count = number of existing slots in range
    expected = sum(
        1
        for slot in range(40 * 6)
        if slot % 4 < n_variants(slot // 4, 42)
    )
    assert parsed.count() == expected

    row = parsed.first()
    assert row.content_sha is not None and len(row.content_sha) == 64
    assert row.citation.title
    assert row.citation.date.year >= 1990
    # ground-truth work id rides in accession_number
    assert row.citation.accession_number.startswith("WORK-")

    # record_idx dense per payload
    per_payload = parsed.groupBy("row_id").agg(
        F.count("*").alias("n"), F.max("record_idx").alias("mx")
    )
    bad = per_payload.filter(F.col("mx") != F.col("n") - 1).count()
    assert bad == 0
    parsed.unpersist()


def test_quarantine_on_bad_records(spark):
    bad_ris = "TY  - JOUR\nAU  - Smith, John\nER  -\n"  # missing title
    good_ris = "TY  - JOUR\nTI  - Fine\nER  -\n"
    df = spark.createDataFrame(
        [
            (0, "r", "p", "c", "RIS", bad_ris),
            (1, "r", "p", "c", "RIS", good_ris),
            (2, "r", "p", "c", "??", "no format here"),
        ],
        schema="row_id long, repo string, path string, commit string, lang string, content string",
    )
    parsed = parse_corpus(df)
    assert parsed.count() == 1
    q = parse_corpus_quarantine(df).collect()
    kinds = {r.error_kind for r in q}
    assert kinds == {"missing_value", "unknown_format"}
    missing = [r for r in q if r.error_kind == "missing_value"][0]
    assert missing.error_line == 1
    assert missing.error_span.start == 0
