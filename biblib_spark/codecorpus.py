"""Deterministic synthetic source-code corpus (north_rule input shape).

The BASELINE.json ``north_rule`` mandates near-duplicate detection over an
Iceberg table of **source-code repositories** with columns exactly
``(repo:string, path:string, commit:string, lang:string, content:string)``.
This module synthesizes that table at any scale, distributed (pure function
of (seed, row index) via ``spark.range(...).mapInPandas`` — no driver-side
materialization), with a planted clone structure that exercises every tier
of the code-dedup pipeline (operators/codedup.py):

- clone 0: canonical file (6..10 functions in one of 4 languages)
- clone 1: **type-1 clone** — comments rewritten, whitespace/indent
  reformatted; byte-different but identical after comment/whitespace
  normalization (exact tier misses it, normalized tier catches it); for
  every 3rd origin it is instead a **type-0 clone** (exact byte copy — a
  vendored file), so the sha tier has real groups at every scale
- clone 2: **type-2 clone** — every identifier consistently alpha-renamed;
  normalization misses it, identifier-canonicalized MinHash catches it with
  Jaccard 1.0
- clone 3: **type-3 clone** — one function dropped, one new function added
  (canonical-token Jaccard ~0.7-0.9, caught by MinHash-LSH + verify); for
  every 5th origin the type-3 clone is instead a **containment clone** (all
  of the origin's functions embedded in a 2x larger file — Jaccard falls
  below the near-dup threshold, the winnowing fingerprint tier catches it)
- **boilerplate skew**: ~1% of origins emit one of 4 fixed per-language
  boilerplate files regardless of origin — mega exact-dup clusters that
  exercise the C7 star-cap / linear-edge discipline (the LICENSE /
  ``__init__.py`` phenomenon: at GitHub scale a handful of contents cover a
  double-digit percentage of all files)

Ground truth rides ONLY in arithmetic on the row index (``truth_label``),
never in any column the matcher reads; the recall harness in
tests/test_codedup.py compares pipeline clusters against it.

Clone mix (55/25/15/5 for 1/2/3/4 variants) mirrors the citation corpus so
dup density is comparable across the two arms.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from biblib_spark.schema import CORPUS_SCHEMA

SLOTS_PER_ORIGIN = 4
BOILER_MOD = 101  # origin o is a boilerplate emitter iff o % 101 == 7

_LANGS = ["python", "java", "javascript", "go"]
_EXT = {"python": "py", "java": "java", "javascript": "js", "go": "go"}

# identifier vocabulary: syllable products keep lexical diversity high so
# unrelated files share few shingles (the same LSH-bucket-overload lesson as
# corpus.py's title vocabulary)
_SYL = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]  # 80
_IDENTS = [
    _SYL[i % 80] + _SYL[(i // 80) % 80] + ("_" + _SYL[(i // 6400) % 80] if i >= 6400 else "")
    for i in range(4000)
]

_BOILERPLATE = {
    "python": "# package marker\n__all__ = []\n",
    "java": "// Auto-generated; do not edit.\npackage gen;\n\npublic final class Empty {\n    private Empty() {}\n}\n",
    "javascript": "// ISC license header\n'use strict';\nmodule.exports = {};\n",
    "go": "// Code generated by synthgen. DO NOT EDIT.\npackage gen\n",
}


def _h(seed: int, *parts: object) -> int:
    """Deterministic 64-bit hash of (seed, parts) — stable across workers."""
    key = f"{seed}|" + "|".join(str(p) for p in parts)
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "little")


def n_clones(o: int, seed: int) -> int:
    """1..4 clones per origin; boilerplate origins always emit exactly 1."""
    if o % BOILER_MOD == 7:
        return 1
    r = _h(seed, "ncl", o) % 100
    if r < 55:
        return 1
    if r < 80:
        return 2
    if r < 95:
        return 3
    return 4


def _ident(seed: int, *parts: object) -> str:
    return _IDENTS[_h(seed, *parts) % len(_IDENTS)]


def _origin_plan(o: int, seed: int) -> dict:
    """Language + function skeletons for origin ``o`` (identifier SLOTS, not
    final names — renaming picks per-clone names for the same slots)."""
    lang = _LANGS[_h(seed, "lang", o) % len(_LANGS)]
    n_funcs = 6 + _h(seed, "nf", o) % 5
    funcs = []
    for f in range(n_funcs):
        n_params = 1 + _h(seed, "np", o, f) % 3
        n_stmts = 2 + _h(seed, "ns", o, f) % 4
        stmts = []
        for s in range(n_stmts):
            stmts.append(
                (
                    _h(seed, "op", o, f, s) % 4,  # operator choice
                    1 + _h(seed, "c1", o, f, s) % 89,  # literal
                    _h(seed, "v1", o, f, s),  # which param feeds in
                )
            )
        funcs.append({"slot": ("fn", o, f), "n_params": n_params, "stmts": stmts})
    return {"lang": lang, "funcs": funcs}


_OPS = ["+", "-", "*", "%"]


def _render(plan: dict, o: int, seed: int, rename: int, style: int,
            comment_salt: int) -> str:
    """Serialize a plan to source text.

    ``rename`` selects the identifier naming generation (0 canonical; any
    other value alpha-renames every identifier slot consistently).
    ``style`` 0 = canonical formatting, 1 = reformatted (type-1).
    """
    lang = plan["lang"]
    indent = "\t" if style else "    "
    sep = "\n\n\n" if style else "\n\n"

    def name(slot) -> str:
        return _ident(seed, "nm", rename, *slot)

    blocks = []
    for fi, fn in enumerate(plan["funcs"]):
        fname = name(fn["slot"])
        params = [name(("p", *fn["slot"], i)) for i in range(fn["n_params"])]
        local = name(("l", *fn["slot"]))
        comment = f"step {_h(seed, 'cm', comment_salt, o, fi) % 997}"
        lines = []
        body = []
        acc = local
        for si, (op, lit, pv) in enumerate(fn["stmts"]):
            src = params[pv % len(params)]
            rhs = f"{src} {_OPS[op]} {lit}" if si == 0 else f"{acc} {_OPS[op]} {src} {_OPS[(op + 1) % 4]} {lit}"
            body.append((acc, rhs))
        if lang == "python":
            lines.append(f"def {fname}({', '.join(params)}):")
            lines.append(f"{indent}# {comment}")
            for tgt, rhs in body:
                lines.append(f"{indent}{tgt} = {rhs}")
            lines.append(f"{indent}return {acc}")
        elif lang == "java":
            lines.append(f"static long {fname}(long {', long '.join(params)}) {{")
            lines.append(f"{indent}// {comment}")
            lines.append(f"{indent}long {body[0][0]} = {body[0][1]};")
            for tgt, rhs in body[1:]:
                lines.append(f"{indent}{tgt} = {rhs};")
            lines.append(f"{indent}return {acc};")
            lines.append("}")
        elif lang == "javascript":
            lines.append(f"function {fname}({', '.join(params)}) {{")
            lines.append(f"{indent}// {comment}")
            lines.append(f"{indent}let {body[0][0]} = {body[0][1]};")
            for tgt, rhs in body[1:]:
                lines.append(f"{indent}{tgt} = {rhs};")
            lines.append(f"{indent}return {acc};")
            lines.append("}")
        else:  # go
            lines.append(
                f"func {fname}({' int64, '.join(params)} int64) int64 {{"
            )
            lines.append(f"{indent}// {comment}")
            lines.append(f"{indent}{body[0][0]} := {body[0][1]}")
            for tgt, rhs in body[1:]:
                lines.append(f"{indent}{tgt} = {rhs}")
            lines.append(f"{indent}return {acc}")
            lines.append("}")
        blocks.append("\n".join(lines))

    header = {
        "python": f"# module {_h(seed, 'hd', comment_salt, o) % 9973}",
        "java": f"// module {_h(seed, 'hd', comment_salt, o) % 9973}",
        "javascript": f"// module {_h(seed, 'hd', comment_salt, o) % 9973}",
        "go": f"// module {_h(seed, 'hd', comment_salt, o) % 9973}\npackage synth",
    }[lang]
    text = header + sep + sep.join(blocks) + "\n"
    if style:
        # trailing whitespace + CRLF-ish noise a formatter would strip
        text = text.replace("\n", "  \n", 3)
    return text


def _extra_funcs(plan: dict, o: int, seed: int, n: int, salt: str) -> dict:
    """Plan with ``n`` additional salted functions appended."""
    extra = []
    for f in range(n):
        n_params = 1 + _h(seed, "xp", salt, o, f) % 3
        n_stmts = 2 + _h(seed, "xs", salt, o, f) % 4
        stmts = [
            (
                _h(seed, "xo", salt, o, f, s) % 4,
                1 + _h(seed, "xc", salt, o, f, s) % 89,
                _h(seed, "xv", salt, o, f, s),
            )
            for s in range(n_stmts)
        ]
        extra.append(
            {"slot": ("xfn", salt, o, f), "n_params": n_params, "stmts": stmts}
        )
    return {"lang": plan["lang"], "funcs": plan["funcs"] + extra}


def is_containment_clone(o: int) -> bool:
    """Every 5th non-boilerplate origin's clone 3 is a containment clone."""
    return o % 5 == 0


def clone_text(o: int, k: int, seed: int) -> tuple[str, str]:
    """(lang, content) for clone ``k`` of origin ``o``."""
    if o % BOILER_MOD == 7:
        lang = _LANGS[_h(seed, "bp", o) % len(_LANGS)]
        return lang, _BOILERPLATE[lang]
    plan = _origin_plan(o, seed)
    if k == 0:
        return plan["lang"], _render(plan, o, seed, rename=0, style=0, comment_salt=0)
    if k == 1:
        if o % 3 == 0:  # type-0: exact byte copy (vendored file) — tier E
            return plan["lang"], _render(
                plan, o, seed, rename=0, style=0, comment_salt=0
            )
        # type-1: comments + formatting only
        return plan["lang"], _render(plan, o, seed, rename=0, style=1, comment_salt=1)
    if k == 2:  # type-2: consistent alpha-rename
        return plan["lang"], _render(
            plan, o, seed, rename=1 + _h(seed, "rn", o) % 7, style=0, comment_salt=0
        )
    # k == 3
    if is_containment_clone(o):
        # containment: all original functions + as many again of new ones
        big = _extra_funcs(plan, o, seed, n=len(plan["funcs"]) + 2, salt="cont")
        return plan["lang"], _render(big, o, seed, rename=0, style=0, comment_salt=0)
    # type-3: drop one function, add one new
    drop = _h(seed, "dr", o) % len(plan["funcs"])
    kept = {"lang": plan["lang"],
            "funcs": [f for i, f in enumerate(plan["funcs"]) if i != drop]}
    edited = _extra_funcs(kept, o, seed, n=1, salt="edit")
    return plan["lang"], _render(edited, o, seed, rename=0, style=0, comment_salt=0)


def truth_label(row_id: int, seed: int) -> str:
    """Ground-truth duplicate-cluster label for a slot (tests only).

    Boilerplate emitters from different origins share bytes, so their truth
    label is keyed by the boilerplate language, not the origin.
    """
    o = row_id // SLOTS_PER_ORIGIN
    if o % BOILER_MOD == 7:
        return "bp-" + _LANGS[_h(seed, "bp", o) % len(_LANGS)]
    return f"o{o}"


def _gen_partition(batches: Iterator[pd.DataFrame], seed: int) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for rid in pdf["id"]:
            rid = int(rid)
            o, k = divmod(rid, SLOTS_PER_ORIGIN)
            if k >= n_clones(o, seed):
                continue
            lang, content = clone_text(o, k, seed)
            commit = hashlib.sha256(f"cc{seed}-{rid}".encode()).hexdigest()[:40]
            rows.append(
                {
                    "row_id": rid,
                    "repo": f"org{o % 57}/repo{o % 503}",
                    "path": f"src/{_ident(seed, 'dir', o)}/{_ident(seed, 'fl', rid)}.{_EXT[lang]}",
                    "commit": commit,
                    "lang": lang,
                    "content": content,
                }
            )
        yield pd.DataFrame(
            rows, columns=["row_id", "repo", "path", "commit", "lang", "content"]
        )


def make_code_corpus(
    spark: SparkSession,
    num_origins: int,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic code-file table, exactly the input_hint
    shape (plus ``row_id``): ~1.75 files per origin at the default mix."""
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    rng = spark.range(0, num_origins * SLOTS_PER_ORIGIN, numPartitions=partitions)
    return rng.mapInPandas(
        lambda it: _gen_partition(it, seed), schema=CORPUS_SCHEMA
    )
