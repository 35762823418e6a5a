"""BibTeX / BibLaTeX parser kernel.

Reference parity: src/bib/parse.rs in revidiumhq/biblib. Recursive-descent
tokenizer over ``@type{key, field = value # value, ...}`` with braced/quoted/
bare values, ``#`` concatenation, ``%`` line comments, ``@comment``/
``@preamble`` skipping and ``@string`` macro definitions; then a resolver
with case-insensitive cycle-safe macro expansion, ``xdata`` list inheritance
and ``crossref`` fill-only-missing inheritance; unresolved macros keep their
raw text in extra_fields.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from .authors import split_given_and_middle
from .citation import ParseErr, author, date_from_tuple, empty_citation
from .dates import parse_bib_date, parse_bib_year_month, parse_year_only
from .text import format_doi, format_page_numbers, split_issns

FORMAT_LABEL = "BibTeX / BibLaTeX"

_NAME_OK = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-"
)
_PARTICLES = frozenset(
    ["von", "van", "de", "del", "der", "den", "da", "dos", "la", "le", "du"]
)
_MONTHS = ("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep", "oct", "nov", "dec")


# --------------------------------------------------------------------------
# expressions
# --------------------------------------------------------------------------


@dataclass
class Lit:
    value: str


@dataclass
class Ident:
    name: str


@dataclass
class Concat:
    parts: list


@dataclass
class RawField:
    name: str
    expr: Any
    raw_value: str


@dataclass
class RawEntry:
    entry_type: str
    key: str
    fields: list[RawField]
    start_line: int
    span: tuple[int, int]


@dataclass
class ResolvedField:
    value: str
    fully_resolved: bool
    raw: str

    def canonical_text(self) -> str:
        return self.value.strip()

    def extra_text(self) -> str:
        return self.value.strip() if self.fully_resolved else self.raw.strip()


def _line_at(source: str, pos: int) -> int:
    return source.count("\n", 0, min(pos, len(source))) + 1


class _Tokenizer:
    """reference: src/bib/parse.rs:92-540."""

    def __init__(self, source: str) -> None:
        self.s = source
        self.pos = 0

    def error(self, start: int, msg: str) -> ParseErr:
        return ParseErr(
            fmt=FORMAT_LABEL, kind="syntax", msg=msg,
            line=_line_at(self.s, start),
            span=(start, max(start + 1, self.pos)),
        )

    def peek(self) -> str | None:
        return self.s[self.pos] if self.pos < len(self.s) else None

    def bump(self) -> str | None:
        c = self.peek()
        if c is not None:
            self.pos += 1
        return c

    def eof(self) -> bool:
        return self.pos >= len(self.s)

    def skip_ws_and_comments(self) -> None:
        while True:
            before = self.pos
            while (c := self.peek()) is not None and c.isspace():
                self.pos += 1
            if self.peek() == "%":
                while (c := self.bump()) is not None:
                    if c == "\n":
                        break
            if self.pos == before:
                break

    def expect(self, expected: str) -> None:
        c = self.peek()
        if c != expected:
            raise self.error(self.pos, f"Expected '{expected}'")
        self.pos += 1

    def parse_name(self) -> str:
        start = self.pos
        while (c := self.peek()) is not None and c in _NAME_OK:
            self.pos += 1
        if self.pos == start:
            raise self.error(start, "Expected an identifier")
        return self.s[start : self.pos]

    def parse_bare_token(self) -> str:
        start = self.pos
        while (c := self.peek()) is not None:
            if c.isspace() or c in "#,})=\"":
                break
            self.pos += 1
        return self.s[start : self.pos].strip()

    def parse_braced(self) -> str:
        start = self.pos
        self.expect("{")
        depth = 1
        out: list[str] = []
        while (c := self.peek()) is not None:
            if c == "\\":
                out.append(c)
                self.pos += 1
                if (n := self.peek()) is not None:
                    out.append(n)
                    self.pos += 1
            elif c == "{":
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == "}":
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return "".join(out)
                out.append("}")
            else:
                out.append(c)
                self.pos += 1
        raise self.error(start, "Unterminated braced value in .bib input")

    def parse_quoted(self) -> str:
        start = self.pos
        self.expect('"')
        out: list[str] = []
        while (c := self.peek()) is not None:
            if c == "\\":
                out.append(c)
                self.pos += 1
                if (n := self.peek()) is not None:
                    out.append(n)
                    self.pos += 1
            elif c == '"':
                self.pos += 1
                return "".join(out)
            else:
                out.append(c)
                self.pos += 1
        raise self.error(start, "Unterminated quoted value in .bib input")

    def parse_value_atom(self):
        c = self.peek()
        if c == "{":
            return Lit(self.parse_braced())
        if c == '"':
            return Lit(self.parse_quoted())
        if c is not None and not c.isspace() and c not in "#,})=\"{":
            token = self.parse_bare_token()
            if token and all(ch.isascii() and ch.isdigit() for ch in token):
                return Lit(token)
            return Ident(token)
        raise self.error(self.pos, "Expected a BibTeX/BibLaTeX value")

    def parse_value_expr(self):
        parts = [self.parse_value_atom()]
        while True:
            self.skip_ws_and_comments()
            if self.peek() != "#":
                break
            self.pos += 1
            self.skip_ws_and_comments()
            parts.append(self.parse_value_atom())
        return parts[0] if len(parts) == 1 else Concat(parts)

    def skip_balanced_block(self, open_c: str, close_c: str) -> None:
        start = max(0, self.pos - 1)
        depth = 1
        while (c := self.peek()) is not None:
            if c == "\\":
                self.pos += 1
                if not self.eof():
                    self.pos += 1
            elif c == '"':
                self.parse_quoted()
            elif c == "{" and open_c != "{":
                self.parse_braced()
            elif c == open_c:
                depth += 1
                self.pos += 1
            elif c == close_c:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return
            else:
                self.pos += 1
        raise self.error(start, "Unterminated top-level BibTeX/BibLaTeX block")

    def parse_string_definition(self, close_c: str) -> tuple[str, Any]:
        self.skip_ws_and_comments()
        name = self.parse_name().lower()
        self.skip_ws_and_comments()
        self.expect("=")
        self.skip_ws_and_comments()
        value_start = self.pos
        expr = self.parse_value_expr()
        raw_value = self.s[value_start : self.pos].strip()
        self.skip_ws_and_comments()
        if self.peek() == ",":
            self.pos += 1
            self.skip_ws_and_comments()
        self.expect(close_c)
        return name, (Lit("") if raw_value == "" else expr)

    def parse_entry(self, entry_type: str, close_c: str, start_pos: int) -> RawEntry:
        self.skip_ws_and_comments()
        key_start = self.pos
        while (c := self.peek()) is not None and c != "," and c != close_c:
            self.pos += 1
        key = self.s[key_start : self.pos].strip()
        if not key:
            raise self.error(key_start, "Bib entry is missing a citation key")
        fields: list[RawField] = []
        self.skip_ws_and_comments()
        c = self.peek()
        if c == close_c:
            self.pos += 1
        elif c == ",":
            self.pos += 1
            while True:
                self.skip_ws_and_comments()
                if self.peek() == close_c:
                    self.pos += 1
                    break
                name = self.parse_name().lower()
                self.skip_ws_and_comments()
                self.expect("=")
                self.skip_ws_and_comments()
                value_start = self.pos
                expr = self.parse_value_expr()
                raw_value = self.s[value_start : self.pos].strip()
                fields.append(RawField(name, expr, raw_value))
                self.skip_ws_and_comments()
                nxt = self.peek()
                if nxt == ",":
                    self.pos += 1
                elif nxt == close_c:
                    self.pos += 1
                    break
                elif nxt is not None:
                    raise self.error(
                        self.pos, "Expected ',' or closing delimiter after field value"
                    )
                else:
                    raise self.error(
                        self.pos, "Unexpected end of input while parsing entry"
                    )
        elif c is not None:
            raise self.error(
                self.pos, "Expected ',' or closing delimiter after citation key"
            )
        else:
            raise self.error(self.pos, "Unexpected end of input while parsing entry")
        return RawEntry(
            entry_type, key, fields, _line_at(self.s, start_pos), (start_pos, self.pos)
        )

    def parse_document(self) -> tuple[dict[str, Any], list[RawEntry]]:
        macros: dict[str, Any] = {m: Lit(m) for m in _MONTHS}
        entries: list[RawEntry] = []
        self.skip_ws_and_comments()
        while not self.eof():
            at_pos = self.pos
            self.expect("@")
            directive = self.parse_name().lower()
            self.skip_ws_and_comments()
            open_c = self.peek()
            if open_c is None:
                raise self.error(at_pos, "Unexpected end of input")
            if open_c == "{":
                close_c = "}"
            elif open_c == "(":
                close_c = ")"
            else:
                raise self.error(self.pos, "Expected '{' or '(' after directive name")
            self.pos += 1
            if directive in ("comment", "preamble"):
                self.skip_balanced_block(open_c, close_c)
            elif directive == "string":
                name, expr = self.parse_string_definition(close_c)
                macros[name] = expr
            else:
                entries.append(self.parse_entry(directive, close_c, at_pos))
            self.skip_ws_and_comments()
        return macros, entries


# --------------------------------------------------------------------------
# resolver (reference: src/bib/parse.rs:542-690)
# --------------------------------------------------------------------------


class _Resolver:
    def __init__(self, macros: dict[str, Any], entries: list[RawEntry]) -> None:
        self.macros = macros
        self.entries = entries
        self.entry_lookup: dict[str, int] = {}
        for i, e in enumerate(entries):
            self.entry_lookup.setdefault(e.key.lower(), i)
        self.macro_cache: dict[str, tuple[str, bool]] = {}
        self.entry_cache: dict[int, dict[str, list[ResolvedField]]] = {}

    def resolve_expr(self, expr, macro_stack: list[str]) -> tuple[str, bool]:
        if isinstance(expr, Lit):
            return expr.value, True
        if isinstance(expr, Ident):
            return self.resolve_ident(expr.name, macro_stack)
        value = []
        fully = True
        for part in expr.parts:
            v, f = self.resolve_expr(part, macro_stack)
            value.append(v)
            fully &= f
        return "".join(value), fully

    def resolve_ident(self, name: str, macro_stack: list[str]) -> tuple[str, bool]:
        key = name.lower()
        if key in self.macro_cache:
            return self.macro_cache[key]
        if key in macro_stack:
            return name, False
        definition = self.macros.get(key)
        if definition is None:
            return name, False
        macro_stack.append(key)
        resolved = self.resolve_expr(definition, macro_stack)
        macro_stack.pop()
        self.macro_cache[key] = resolved
        return resolved

    def resolve_local(self, raw_fields: list[RawField]) -> dict[str, list[ResolvedField]]:
        out: dict[str, list[ResolvedField]] = {}
        for f in raw_fields:
            v, fully = self.resolve_expr(f.expr, [])
            out.setdefault(f.name, []).append(ResolvedField(v, fully, f.raw_value))
        return out

    def resolve_entry(self, index: int, stack: list[int]) -> dict[str, list[ResolvedField]]:
        if index in self.entry_cache:
            return {k: list(v) for k, v in self.entry_cache[index].items()}
        raw = self.entries[index]
        stack.append(index)
        fields = self.resolve_local(raw.fields)

        for key in _collect_reference_keys(fields.get("xdata")):
            parent_index = self.entry_lookup.get(key.lower())
            if parent_index is not None and parent_index not in stack:
                parent = self.resolve_entry(parent_index, stack)
                _inherit(fields, parent)

        crossref_vals = fields.get("crossref")
        if crossref_vals:
            crossref = crossref_vals[0].value.strip()
            if crossref:
                parent_index = self.entry_lookup.get(crossref.lower())
                if parent_index is not None and parent_index not in stack:
                    parent = self.resolve_entry(parent_index, stack)
                    _inherit(fields, parent)

        stack.pop()
        self.entry_cache[index] = {k: list(v) for k, v in fields.items()}
        return fields


def _inherit(
    child: dict[str, list[ResolvedField]], parent: dict[str, list[ResolvedField]]
) -> None:
    for key, values in parent.items():
        if key in ("xdata", "crossref") or key in child:
            continue
        child[key] = list(values)


def _collect_reference_keys(values: list[ResolvedField] | None) -> list[str]:
    keys = []
    if values:
        for f in values:
            for part in f.value.split(","):
                t = part.strip()
                if t:
                    keys.append(t)
    return keys


# --------------------------------------------------------------------------
# citation shaping (reference: src/bib/parse.rs:692-1041)
# --------------------------------------------------------------------------

Fields = dict[str, list[ResolvedField]]


def _take_first(fields: Fields, key: str) -> str | None:
    values = fields.pop(key, None)
    if values is None:
        return None
    return next(
        (v.canonical_text() for v in values if v.canonical_text().strip()), None
    )


def _take_preferred(fields: Fields, keys: tuple[str, ...]) -> str | None:
    for key in keys:
        values = fields.get(key)
        if values:
            v = next(
                (x.canonical_text() for x in values if x.canonical_text().strip()),
                None,
            )
            if v is not None:
                del fields[key]
                return v
    return None


def _take_all(fields: Fields, key: str) -> list[str]:
    values = fields.pop(key, None)
    if values is None:
        return []
    return [v.canonical_text() for v in values if v.canonical_text().strip()]


def _take_joined(fields: Fields, key: str) -> str | None:
    values = fields.pop(key, None)
    if values is None:
        return None
    joined = "\n\n".join(
        v.canonical_text() for v in values if v.canonical_text().strip()
    )
    return joined or None


def _dedupe(values: list[str]) -> list[str]:
    seen = set()
    out = []
    for v in values:
        if v not in seen:
            seen.add(v)
            out.append(v)
    return out


def _take_title(fields: Fields) -> str:
    title = _take_first(fields, "title") or ""
    subtitle = _take_first(fields, "subtitle")
    if subtitle is not None:
        if not title.strip():
            title = subtitle
        else:
            title = f"{title}: {subtitle}"
    return title


def _take_date(fields: Fields):
    values = fields.get("date")
    if values:
        v = next(
            (x.canonical_text() for x in values if x.canonical_text().strip()), None
        )
        if v is not None:
            d = parse_bib_date(v)
            if d is not None:
                del fields["date"]
                return d
    year_vals = fields.get("year")
    year = (
        next((x.canonical_text() for x in year_vals if x.canonical_text().strip()), None)
        if year_vals
        else None
    )
    if year is not None:
        month_vals = fields.get("month")
        month = (
            next(
                (x.canonical_text() for x in month_vals if x.canonical_text().strip()),
                None,
            )
            if month_vals
            else None
        )
        if month is not None:
            d = parse_bib_year_month(year, month)
            if d is not None:
                del fields["year"]
                del fields["month"]
                return d
        d = parse_year_only(year)
        if d is not None:
            del fields["year"]
            return d
    return None


def _take_keywords(fields: Fields) -> list[str]:
    values = fields.pop("keywords", None)
    if values is None:
        return []
    out = []
    for value in values:
        text = value.canonical_text()
        if ";" in text:
            seps = (";", "\n")
        elif "," in text:
            seps = (",", "\n")
        else:
            seps = ("\n",)
        chunks = [text]
        for sep in seps:
            chunks = [piece for c in chunks for piece in c.split(sep)]
        out.extend(c.strip() for c in chunks if c.strip())
    return _dedupe(out)


def _take_identifiers(fields: Fields, key: str) -> list[str]:
    values = fields.pop(key, None)
    if values is None:
        return []
    out = []
    for value in values:
        text = value.canonical_text()
        if not text.strip():
            continue
        if key == "issn":
            split = split_issns(text)
            out.extend(split if split else [text])
        else:
            out.append(text)
    return _dedupe(out)


def split_top_level_and(value: str) -> list[str]:
    """Brace-depth-aware split on `` and ``. reference: parse.rs:1050-1082."""
    parts: list[str] = []
    current: list[str] = []
    depth = 0
    pos = 0
    n = len(value)
    while pos < n:
        if depth == 0 and value.startswith(" and ", pos):
            t = "".join(current).strip()
            if t:
                parts.append(t)
            current = []
            pos += 5
            continue
        c = value[pos]
        if c == "{":
            depth += 1
        elif c == "}":
            depth = max(0, depth - 1)
        current.append(c)
        pos += 1
    t = "".join(current).strip()
    if t:
        parts.append(t)
    return parts


def _strip_wrapping_braces(value: str) -> str | None:
    """reference: parse.rs:1165-1185."""
    if not value.startswith("{") or not value.endswith("}"):
        return None
    depth = 0
    for i, c in enumerate(value):
        if c == "{":
            depth += 1
        elif c == "}":
            depth = max(0, depth - 1)
            if depth == 0 and i + 1 != len(value):
                return None
    return value[1:-1].strip()


def _parse_unstructured_name(name: str) -> tuple[str, str]:
    """von/van/de particle heuristic. reference: parse.rs:1133-1163."""
    tokens = name.split()
    if not tokens:
        return "", ""
    if len(tokens) == 1:
        return tokens[0], ""
    family_start = len(tokens) - 1
    while family_start > 0:
        prev = tokens[family_start - 1]
        starts_lower = prev[:1].isascii() and prev[:1].islower()
        if starts_lower or prev.lower() in _PARTICLES:
            family_start -= 1
        else:
            break
    return " ".join(tokens[family_start:]), " ".join(tokens[:family_start])


def _parse_person(person: str) -> dict[str, Any] | None:
    """reference: parse.rs:1084-1131."""
    t = person.strip()
    if not t:
        return None
    wrapped = _strip_wrapping_braces(t)
    if wrapped is not None:
        return author(wrapped)
    comma_parts = [p.strip() for p in t.split(",") if p.strip()]
    if len(comma_parts) == 0:
        return None
    if len(comma_parts) == 1:
        family, given = _parse_unstructured_name(comma_parts[0])
    elif len(comma_parts) == 2:
        family, given = comma_parts[0], comma_parts[1]
    else:
        # "Last, Jr, First" -> given = "First Jr"
        family = comma_parts[0]
        given = f"{comma_parts[2]} {comma_parts[1]}".strip()
    family = family.strip()
    given = given.strip()
    if not given:
        return author(family)
    g, m = split_given_and_middle(given)
    return author(family, g, m)


def parse_people_list(value: str) -> list[dict[str, Any]]:
    out = []
    for person in split_top_level_and(value):
        a = _parse_person(person)
        if a is not None:
            out.append(a)
    return out


def _take_authors(fields: Fields) -> list[dict[str, Any]]:
    text = _take_first(fields, "author")
    if text is not None:
        return parse_people_list(text)
    editor_vals = fields.get("editor")  # editor NOT removed (stays in extras)
    if editor_vals:
        joined = " and ".join(
            v.canonical_text() for v in editor_vals if v.canonical_text().strip()
        )
        return parse_people_list(joined)
    return []


def _build_citation(entry_type: str, fields: Fields, start_line: int, span) -> dict:
    c = empty_citation()
    title = _take_title(fields)
    authors = _take_authors(fields)
    journal = _take_preferred(fields, ("journaltitle", "journal", "booktitle"))
    journal_abbr = _take_preferred(fields, ("shortjournal", "journalabbr"))
    date = _take_date(fields)
    volume = _take_first(fields, "volume")
    issue = _take_preferred(fields, ("number", "issue"))
    pages = _take_first(fields, "pages")
    if pages is not None:
        pages = format_page_numbers(pages)
    publisher = _take_first(fields, "publisher")
    language = _take_preferred(fields, ("language", "langid"))
    abstract_text = _take_joined(fields, "abstract")
    keywords = _take_keywords(fields)
    pmid = _take_preferred(fields, ("pmid", "pubmed"))
    pmc_id = _take_preferred(fields, ("pmcid", "pmc"))
    accession = _take_preferred(fields, ("accessionnumber", "eid", "ids"))
    if accession is None:
        accession = pmid if pmid is not None else pmc_id

    doi = None
    doi_candidate = _take_first(fields, "doi")
    if doi_candidate is not None:
        doi = format_doi(doi_candidate)

    urls = _take_all(fields, "url")
    if doi is None:
        for url in urls:
            found = format_doi(url)
            if found is not None:
                doi = found
                break

    issn = _take_identifiers(fields, "issn")
    issn.extend(_take_identifiers(fields, "isbn"))

    has_eprint = any(
        v.canonical_text().strip() for v in fields.get("eprint", [])
    )
    has_identity = (
        bool(title.strip())
        or bool(authors)
        or doi is not None
        or bool(urls)
        or accession is not None
        or pmid is not None
        or pmc_id is not None
        or has_eprint
    )
    if not has_identity:
        raise ParseErr(
            fmt=FORMAT_LABEL, kind="missing_value",
            msg="Missing required field title (key title/author/identifier)",
            line=start_line, span=span,
        )

    extra: dict[str, list[str]] = {}
    for key, values in fields.items():
        collected = [v.extra_text() for v in values if v.extra_text().strip()]
        if collected:
            extra[key] = collected

    c["citation_type"] = [entry_type.lower()]
    c["title"] = title
    c["authors"] = authors
    c["journal"] = journal
    c["journal_abbr"] = journal_abbr
    c["date"] = date_from_tuple(date)
    c["volume"] = volume
    c["issue"] = issue
    c["pages"] = pages
    c["issn"] = issn
    c["doi"] = doi
    c["accession_number"] = accession
    c["pmid"] = pmid
    c["pmc_id"] = pmc_id
    c["abstract_text"] = abstract_text
    c["keywords"] = keywords
    c["urls"] = _dedupe(urls)
    c["language"] = language
    c["publisher"] = publisher
    c["extra_fields"] = extra
    return c


def parse_bib(text: str) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Parse a Bib payload into (citations, quarantine rows)."""
    tok = _Tokenizer(text)
    try:
        macros, entries = tok.parse_document()
    except ParseErr as e:
        # reference is fail-fast on tokenizer errors
        return [], [e.to_row()]
    if not entries:
        return [], []
    resolver = _Resolver(macros, entries)
    citations: list[dict[str, Any]] = []
    errors: list[dict[str, Any]] = []
    for i, entry in enumerate(entries):
        if entry.entry_type.lower() == "xdata":
            continue
        fields = resolver.resolve_entry(i, [])
        try:
            citations.append(
                _build_citation(entry.entry_type, fields, entry.start_line, entry.span)
            )
        except ParseErr as e:
            errors.append(e.to_row())
    return citations, errors
