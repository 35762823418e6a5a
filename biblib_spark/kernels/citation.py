"""Canonical citation record shape shared by every parser kernel.

Mirrors the reference ``Citation`` struct (src/lib.rs:276-320) and the JSON
shape of tests/fixtures/ictrp/expected-output.json. Kernels produce plain
dicts with exactly the keys of ``empty_citation()`` so a single Arrow StructType
covers all formats (see biblib_spark.schema.CITATION_SCHEMA).
"""

from __future__ import annotations

from typing import Any


def empty_citation() -> dict[str, Any]:
    """Default citation record (reference ``Citation::default()``)."""
    return {
        "citation_type": [],
        "title": "",
        "authors": [],
        "journal": None,
        "journal_abbr": None,
        "date": None,
        "volume": None,
        "issue": None,
        "pages": None,
        "issn": [],
        "doi": None,
        "accession_number": None,
        "pmid": None,
        "pmc_id": None,
        "abstract_text": None,
        "keywords": [],
        "urls": [],
        "language": None,
        "mesh_terms": [],
        "publisher": None,
        "extra_fields": {},
    }


def author(
    name: str,
    given_name: str | None = None,
    middle_name: str | None = None,
    affiliations: list[str] | None = None,
) -> dict[str, Any]:
    """Author struct (reference src/lib.rs:260-273)."""
    return {
        "name": name,
        "given_name": given_name,
        "middle_name": middle_name,
        "affiliations": affiliations if affiliations is not None else [],
    }


def date(year: int, month: int | None = None, day: int | None = None) -> dict[str, Any]:
    """Date struct (reference src/lib.rs:249-257)."""
    return {"year": year, "month": month, "day": day}


def date_from_tuple(t: tuple[int, int | None, int | None] | None) -> dict[str, Any] | None:
    if t is None:
        return None
    return {"year": t[0], "month": t[1], "day": t[2]}


class ParseErr(Exception):
    """Quarantine-able parse error (reference src/error.rs:74-129).

    Carries line (1-based), byte span (start inclusive / end exclusive),
    format label, error kind and message. Raised by record shapers; the
    payload-level parser catches it and emits a quarantine row instead of
    failing the batch.
    """

    def __init__(
        self,
        *,
        fmt: str,
        kind: str,
        msg: str,
        line: int | None = None,
        span: tuple[int, int] | None = None,
    ) -> None:
        super().__init__(msg)
        self.fmt = fmt
        self.kind = kind
        self.msg = msg
        self.line = line
        self.span = span

    def to_row(self) -> dict[str, Any]:
        return {
            "format": self.fmt,
            "error_line": self.line,
            "error_span": (
                {"start": self.span[0], "end": self.span[1]} if self.span else None
            ),
            "error_kind": self.kind,
            "error_msg": self.msg,
        }


def iter_rust_lines(text: str) -> list[tuple[str, int, int]]:
    """Rust ``str::lines()`` semantics with byte spans.

    Returns (line, byte_start, byte_end) where the line excludes the trailing
    ``\\n`` / ``\\r\\n`` and byte offsets index the UTF-8 encoding of ``text``
    (matching the reference's pointer arithmetic, src/ris/parse.rs:24-38).
    A trailing final newline does not produce an empty last line.
    """
    out: list[tuple[str, int, int]] = []
    pos = 0
    parts = text.split("\n")
    n = len(parts)
    ascii_text = text.isascii()  # byte length == char length for every line
    for i, part in enumerate(parts):
        if i == n - 1 and part == "" and text.endswith("\n"):
            break
        raw = part
        had_cr = raw.endswith("\r") and i < n - 1
        if had_cr:
            raw = raw[:-1]
        blen = len(raw) if ascii_text else len(raw.encode("utf-8"))
        out.append((raw, pos, pos + blen))
        # consumed bytes: line + optional '\r' + the '\n' separator (if any)
        pos += blen + (1 if had_cr else 0) + (1 if i < n - 1 else 0)
    return out
