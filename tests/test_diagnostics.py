"""Diagnostic pretty-printing parity (reference src/diagnostics.rs:121-256).

The reference's test suite checks rendered reports for: filename in output,
line number surfaced, error-message key surfaced, no-position safety, format
name surfaced, and no diagnostic on valid input.  Same assertions here, plus
the byte-span -> char-offset conversion the Rust original gets for free and
the Spark-side distributed renderer.
"""

from __future__ import annotations

import pytest

from biblib_spark import api
from biblib_spark.diagnostics import diagnostic_from_row, to_diagnostic


# ── unit: to_diagnostic (reference tests :130-192) ─────────────────────────

def test_to_diagnostic_with_span():
    source = "TY  - JOUR\nTI  - Hello\nER  -\n"
    diag = to_diagnostic("oops", "test.ris", source, line=1, span=(0, 10))
    assert "test.ris" in diag
    assert "TY  - JOUR" in diag  # source context line rendered
    assert "oops" in diag


def test_to_diagnostic_line_only():
    source = "TY  - JOUR\nTI  - Hello\nER  -\n"
    diag = to_diagnostic(
        "Missing required field title (key TI)", "test.ris", source, line=2
    )
    assert "test.ris" in diag
    # line 2 appears (reference test_to_diagnostic_line_only)
    assert "test.ris:2:" in diag
    assert "TI  - Hello" in diag


def test_to_diagnostic_no_position():
    # must not crash without position info (reference :163-172); points at
    # offset 0 -> first line
    diag = to_diagnostic("bad input", "test.ris", "some content\n")
    assert "test.ris" in diag
    assert "some content" in diag


def test_to_diagnostic_contains_error_message():
    source = "TY  - JOUR\nER  -\n"
    diag = to_diagnostic(
        "Missing required field title (key TI)", "citations.ris", source,
        line=1, span=(0, 10),
    )
    assert "TI" in diag


def test_to_diagnostic_multiline_span():
    # a span across two lines renders both source lines
    source = "TY  - JOUR\nAU  - Smith, John\nER  -\n"
    diag = to_diagnostic("record error", "x.ris", source, span=(0, 28))
    assert "TY  - JOUR" in diag and "AU  - Smith, John" in diag
    # exactly one label (ariadne: one Label per report here)
    assert diag.count("╰──") == 1


def test_to_diagnostic_utf8_span_offsets():
    # spans are BYTE offsets (reference SourceSpan counts &str bytes);
    # 'é' is 2 bytes — byte span (0, 9) must cover the whole first line
    # 'TI - é' (8 chars, 9 bytes) without slicing mid-codepoint
    source = "TI - é x\nER\n"
    diag = to_diagnostic("m", "u.ris", source, span=(0, 9))
    assert "TI - é x" in diag


def test_to_diagnostic_color_codes():
    diag = to_diagnostic("m", "c.ris", "line\n", line=1, color=True)
    assert "\x1b[31m" in diag and "\x1b[0m" in diag
    plain = to_diagnostic("m", "c.ris", "line\n", line=1)
    assert "\x1b[" not in plain


@pytest.mark.parametrize(
    "source, line, span, kind, origin, src_line, col, width",
    [
        # span -> line:col of its start, underline as wide as the span
        ("TY  - JOUR\nAU  - Smith, John\nER  -\n", None, (11, 13), "bad_tag",
         "2:1", "AU  - Smith, John", 1, 2),
        # line only -> the whole line underlined
        ("line one\nline two\nline three", 2, None, None,
         "2:1", "line two", 1, 8),
        # no position -> offset 0
        ("abc", None, None, "k", "1:1", "abc", 1, 1),
        ("", None, None, "k", "1:1", "", 1, 1),
        # span past EOF -> clamped to the end of the source
        ("ab", None, (50, 60), None, "1:3", "ab", 3, 1),
        # byte span (3, 5) is chars (2, 4): 'é' is 2 bytes
        ("é\nAB", None, (3, 5), None, "2:1", "AB", 1, 2),
    ],
    ids=["span", "line_only", "no_position", "empty_source", "span_past_eof",
         "utf8_span"],
)
def test_to_diagnostic_placement(source, line, span, kind, origin, src_line,
                                 col, width):
    diag = to_diagnostic("msg", "f", source, line=line, span=span, kind=kind)
    out = diag.splitlines()
    assert out[0] == (f"Error [{kind}]: msg" if kind else "Error: msg")
    assert out[1] == f"   ╭─[ f:{origin} ]"
    ln = origin.split(":")[0]
    i = out.index(f" {ln} │ {src_line}")
    underline = out[i + 1].split("│ ", 1)[1]
    assert underline == " " * (col - 1) + "┬" + "─" * (width - 1)


def test_to_diagnostic_line_past_eof():
    # a line number beyond the source must not crash (defensive analog of
    # primary_byte_range's unwrap_or(0))
    diag = to_diagnostic("m", "e.ris", "one line\n", line=99)
    assert "e.ris" in diag


# ── integration through real parsers (reference tests :196-255) ────────────

def test_ris_missing_title_diagnostic():
    source = "TY  - JOUR\nAU  - Smith, John\nER  -\n"
    citations, diags = api.parse_rendered(source, "input.ris")
    assert citations == []
    assert len(diags) == 1
    assert "input.ris" in diags[0]
    assert "TI" in diags[0]  # missing-field key surfaces


def test_pubmed_missing_title_diagnostic():
    source = "PMID- 123\nAU  - Smith J\n\n"
    _, diags = api.parse_rendered(source, "refs.nbib")
    assert diags and "refs.nbib" in diags[0]


def test_csv_missing_title_diagnostic():
    source = "Title,Author\n,Smith J"
    _, diags = api.parse_rendered(source, "refs.csv", format="CSV")
    assert diags and "refs.csv" in diags[0]
    # the CSV error is on line 2 — the report origin says so
    assert "refs.csv:2:" in diags[0]


def test_valid_input_no_diagnostic():
    source = "TY  - JOUR\nTI  - Good Paper\nER  -\n"
    citations, diags = api.parse_rendered(source, "good.ris")
    assert len(citations) == 1
    assert diags == []


def test_diagnostic_from_row_roundtrip():
    # quarantine-row dict (the exact shape ParseErr.to_row emits) renders
    source = "TY  - JOUR\nAU  - Smith, John\nER  -\n"
    _, errors = api.parse_with_diagnostics(source)
    diag = diagnostic_from_row(errors[0], "payload:7", source)
    assert "payload:7" in diag and "TI" in diag


# ── Spark-side distributed renderer ─────────────────────────────────────────

def test_render_diagnostics_dataframe(spark):
    from biblib_spark.diagnostics import render_diagnostics
    from biblib_spark.sources.parse import parse_with_diagnostics, split_diagnostics

    rows = [
        (0, "TY  - JOUR\nTI  - Fine\nER  -\n", "a.ris"),
        (1, "TY  - JOUR\nAU  - NoTitle, X\nER  -\n", "b.ris"),
        (2, "total garbage that matches nothing", "c.txt"),
    ]
    corpus = spark.createDataFrame(rows, "row_id long, content string, fname string")
    diag = parse_with_diagnostics(corpus)
    _, errors = split_diagnostics(diag)
    out = render_diagnostics(errors, corpus, filename_col="fname")
    got = {r.row_id: r.diagnostic for r in out.collect()}
    assert 0 not in got  # clean payload produces no report
    assert "b.ris" in got[1] and "TI" in got[1]
    assert "c.txt" in got[2]
    # default origin label when no filename column is given
    out2 = render_diagnostics(errors, corpus)
    got2 = {r.row_id: r.diagnostic for r in out2.collect()}
    assert "payload:1" in got2[1]


def test_render_diagnostics_one_report_per_error_row(spark):
    """Two identical unparseable payloads: one report per error row (the
    join is on row_id, not on the content hash), placed at the CHARACTER
    column of the kernel's byte span ('Über Élan' is 2 bytes longer than
    its 9 chars, so byte 35 is char 33: the start of line 4)."""
    from biblib_spark.diagnostics import render_diagnostics
    from biblib_spark.sources.parse import parse_corpus_quarantine

    bad = (
        "TY  - JOUR\nTI  - Über Élan\nER  -\n"
        "TY  - JOUR\nAU  - Smith, John\nER  -\n"
    )
    corpus = spark.createDataFrame(
        [(0, "a.ris", bad), (1, "b.ris", bad)],
        "row_id long, path string, content string",
    )
    errors = parse_corpus_quarantine(corpus)
    assert [
        (r.error_kind, r.error_span.start) for r in errors.collect()
    ] == [("missing_value", 35)] * 2
    out = render_diagnostics(errors, corpus, filename_col="path").collect()
    assert sorted(r.row_id for r in out) == [0, 1]
    for r in out:
        lines = r.diagnostic.splitlines()
        assert lines[1] == f"   ╭─[ {'ab'[r.row_id]}.ris:4:1 ]"
        assert " 4 │ TY  - JOUR" in lines
