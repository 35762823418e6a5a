"""Pair verification — the reference duplicate predicate (M4-M8).

reference: src/dedupe.rs:594-655. Field matches are native SQL expressions
(whole-stage codegen); only the title similarity crosses into Python, as one
Arrow-batched pandas UDF computing jaro (both DOIs present) or jaro_winkler
(otherwise) per pair — strsim-0.11.1-parity kernels.

Null semantics preserved exactly:
- journal_match: 4-way equality over normalized journal/abbr; NULL never
  matches, but ''=='' does (format_journal_name("") == Some("")).
- issn_match: any pairwise equality; empty lists never match.
- volumes_match: both normalized non-empty and equal.
- pages_match: both non-NULL and RAW strings equal (pages were already
  format_page_numbers'd at parse time — dedupe.rs:619-621).
- years_match: NULL == NULL is TRUE (dedupe.rs:622-623,707-709) -> eqNullSafe.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from biblib_spark.kernels.similarity import jaro_batch

DOI_TITLE_SIMILARITY_THRESHOLD = 0.85  # dedupe.rs:141
NO_DOI_TITLE_SIMILARITY_THRESHOLD = 0.93  # dedupe.rs:142
#: C4: the shorter title must have at least this many chars to count as
#: contained in the longer one
CONTAINMENT_MIN_LEN = 20

_FEATURE_COLS = [
    "rid",
    "norm_title",
    "norm_journal",
    "norm_journal_abbr",
    "norm_volume",
    "norm_issn",
    "pages",
    "doi",
    "year",
]


@pandas_udf(DoubleType())
def _title_sim_udf(t1: pd.Series, t2: pd.Series, both_doi: pd.Series) -> pd.Series:
    """Numpy-batched jaro/jaro_winkler (strsim-0.11.1 parity, property-tested
    against the scalar kernels in tests/test_similarity.py).

    Fast path: strsim parity gives jaro(x, x) == jaro_winkler(x, x) == 1.0
    (also for ""), and most true duplicates normalize to IDENTICAL titles —
    only unequal pairs enter the vectorized block kernel.
    """
    a = t1.fillna("")
    b = t2.fillna("")
    out = np.ones(len(a), dtype=np.float64)
    neq = (a != b).to_numpy()
    if neq.any():
        idx = np.nonzero(neq)[0]
        winkler = ~both_doi.fillna(False).to_numpy(dtype=bool)[idx]
        a_l = a.to_numpy(dtype=object)
        b_l = b.to_numpy(dtype=object)
        out[idx] = jaro_batch(
            [a_l[i] for i in idx], [b_l[i] for i in idx], winkler=winkler
        )
    return pd.Series(out)


def _side_cols(df: DataFrame, side: str) -> DataFrame:
    """Alias every column of ``df`` with a pair-side prefix."""
    return df.select(*[F.col(c).alias(f"{side}_{c}") for c in df.columns])


def _side(feat: DataFrame, side: str) -> DataFrame:
    return _side_cols(feat.select(*_FEATURE_COLS), side)


def _coal(c):
    return F.coalesce(c, F.lit(False))


def _field_matches() -> dict:
    """The M6-M8 field-match expressions over a joined a_/b_ pair row."""
    journal_match = _coal(
        (F.col("a_norm_journal") == F.col("b_norm_journal"))
    ) | _coal(
        (F.col("a_norm_journal_abbr") == F.col("b_norm_journal_abbr"))
    ) | _coal(
        (F.col("a_norm_journal") == F.col("b_norm_journal_abbr"))
    ) | _coal(
        (F.col("a_norm_journal_abbr") == F.col("b_norm_journal"))
    )
    return {
        "journal_match": journal_match,
        "issn_match": _coal(F.arrays_overlap("a_norm_issn", "b_norm_issn")),
        "volumes_match": (
            (F.col("a_norm_volume") != "")
            & (F.col("b_norm_volume") != "")
            & (F.col("a_norm_volume") == F.col("b_norm_volume"))
        ),
        "pages_match": (
            F.col("a_pages").isNotNull()
            & F.col("b_pages").isNotNull()
            & (F.col("a_pages") == F.col("b_pages"))
        ),
        "years_match": F.col("a_year").eqNullSafe(F.col("b_year")),
    }


def _join_sides(pairs: DataFrame, feat: DataFrame) -> DataFrame:
    """Two hash joins pull in both sides' preprocessed features (M3:
    normalized once, never recomputed per pair)."""
    return (
        pairs.join(_side(feat, "a"), pairs["a"] == F.col("a_rid"))
        .join(_side(feat, "b"), pairs["b"] == F.col("b_rid"))
    )


def _title_contained(min_len: int):
    """C4 title condition: the shorter normalized title (at least
    ``min_len`` chars) is a substring of the longer."""
    t_a, t_b = F.col("a_norm_title"), F.col("b_norm_title")
    la, lb = F.length(t_a), F.length(t_b)
    return (F.least(la, lb) >= min_len) & F.when(
        la <= lb, t_b.contains(t_a)
    ).otherwise(t_a.contains(t_b))


def _corroborated(title_cond, m: dict):
    """C4 corroboration on top of a title condition: same year, volume or
    pages, journal or issn."""
    return (
        title_cond
        & m["years_match"]
        & (m["volumes_match"] | m["pages_match"])
        & (m["journal_match"] | m["issn_match"])
    )


def _containment_arm(m: dict, min_len: int):
    """C4 substring/containment arm (north_star's suffix-array substring
    pass, re-expressed): the shorter normalized title is a strict substring
    of the longer — a truncated export, a '[Abstract] '-style prefix, an
    appended subtitle — which jaro scores too low to reach the reference
    thresholds. Corroboration requirements mirror the no-DOI reference arm
    (journal/issn AND volume/pages) plus same year, so precision stays at
    reference level. JVM-side `contains` — no Python in this arm."""
    return _corroborated(_title_contained(min_len), m)


def _doi_presence():
    a_doi_ok = F.col("a_doi").isNotNull() & (F.col("a_doi") != "")
    b_doi_ok = F.col("b_doi").isNotNull() & (F.col("b_doi") != "")
    return a_doi_ok & b_doi_ok, _coal(F.col("a_doi") == F.col("b_doi"))


def _arm_predicate(sim, m: dict, both_doi, doi_eq):
    """The reference arms (src/dedupe.rs:625-648) over a precomputed ``sim``."""
    with_doi = (
        (doi_eq & (sim >= DOI_TITLE_SIMILARITY_THRESHOLD) & (m["journal_match"] | m["issn_match"]))
        | (doi_eq & (sim >= 0.99) & (m["volumes_match"] | m["pages_match"]))
        | (
            (sim >= 0.99)
            & m["years_match"]
            & (m["volumes_match"] | m["pages_match"])
            & (m["journal_match"] | m["issn_match"])
        )
    )
    without_doi = (
        (
            (sim >= NO_DOI_TITLE_SIMILARITY_THRESHOLD)
            & (m["volumes_match"] | m["pages_match"])
            & (m["journal_match"] | m["issn_match"])
        )
        | ((sim >= 0.99) & m["years_match"] & m["volumes_match"] & m["pages_match"])
    )
    return F.when(both_doi, with_doi).otherwise(without_doi)


def verify_pairs(
    pairs: DataFrame, feat: DataFrame, containment: bool = False
) -> DataFrame:
    """Candidate pairs (a, b) -> verified duplicate pairs (a, b).

    With ``containment=False`` this is exactly the reference predicate
    (src/dedupe.rs:594-655). ``containment=True`` ORs in the C4 substring
    arm for truncated/containment duplicates the reference's jaro thresholds
    miss (gated by DedupConfig.containment_verify in the pipeline).

    Verification runs as two joins:

    1. NARROW: pairs join only (rid, norm_title, doi) per side — the title
       similarity is computed once here and a pair survives only if its sim
       can still satisfy SOME arm: >= 0.85 needs doi_eq, >= 0.93 needs a
       missing DOI, everything else needs >= 0.99 (the containment title
       condition is the OR-escape when enabled). Candidate volume grows
       superlinearly with corpus size (boilerplate/template titles make LSH
       band collisions ~n^1.84 — bench_runs/r03/profile_*.json) while
       VERIFIED pairs stay linear, so this is the join that sees the
       superlinear row count: it must not carry the wide feature payload.
    2. WIDE: only the ~linear survivors join the full feature row for the
       field-match corroborations (journal/issn/volume/pages/year).

    Both stages evaluate the identical predicate pieces, so the output is
    exactly a single join's over the full feature rows — only the shuffle
    payload moves (pair-set identity pinned by tests/test_verify.py).
    Broadcasting the narrow sides instead of shuffling them measured a loss
    (189.3 vs 154.8 s at 7.65M records): building and probing two ~700 MB
    hash relations costs more DRAM traffic than the sort-merge exchanges it
    removes.
    """
    # Stage 1 (NARROW): pairs join only (rid, norm_title, doi) per side.
    # The round-5 bonus commit routed pairs through an even narrower
    # 128-bit title-fingerprint join first so equal-title pairs never carry
    # their title strings — measured SLOWER here (47.2 s vs 24.2 s at 5.1M
    # records, same window): the corpus's normalized titles are ~40-60
    # chars, so the fingerprint row (2x xxhash64 + length) is barely
    # narrower than the title itself, and the extra join round-trip (two
    # more shuffles of every candidate pair plus a union) costs more than
    # the byte diet saves. The equal-title majority is already near-free
    # inside the sim UDF (vectorized a != b mask; equal rows skip the block
    # kernel), so the narrow join carries the titles directly.
    narrow = feat.select("rid", "norm_title", "doi")
    j1 = (
        pairs.join(_side_cols(narrow, "a"), pairs["a"] == F.col("a_rid"))
        .join(_side_cols(narrow, "b"), pairs["b"] == F.col("b_rid"))
    )
    both_doi, doi_eq = _doi_presence()
    # exact per-pair minimum any arm could accept
    thr = F.when(doi_eq & both_doi, F.lit(DOI_TITLE_SIMILARITY_THRESHOLD)).otherwise(
        F.when(both_doi, F.lit(0.99)).otherwise(
            F.lit(NO_DOI_TITLE_SIMILARITY_THRESHOLD)
        )
    )

    t_a, t_b = F.col("a_norm_title"), F.col("b_norm_title")
    la, lb = F.length(t_a), F.length(t_b)

    # JVM-side EXACT upper bound on the similarity — pairs it prunes can
    # never reach ``thr``, so they never cross into the Arrow/Python kernel.
    # jaro = (m/la + m/lb + (m-t)/m)/3 with m <= min(la, lb) gives
    # jaro <= (2 + lmin/lmax)/3 (kernels/similarity.py; property-tested in
    # tests/test_similarity.py). jaro_winkler adds an UNCAPPED prefix boost
    # j + 0.1*p*(1-j), so the bound only closes when the common prefix p is
    # known: p is computed exactly up to 8 chars in codegen (nested substring
    # equalities); pairs sharing >= 8 leading chars skip the gate.
    r = F.when(
        F.greatest(la, lb) > 0,
        F.least(la, lb).cast("double") / F.greatest(la, lb),
    ).otherwise(F.lit(1.0))
    j_ub = (F.lit(2.0) + r) / F.lit(3.0)
    p = F.lit(0)
    for k in range(1, 9):
        p = F.when(F.substring(t_a, 1, k) == F.substring(t_b, 1, k), k).otherwise(p)
    jw_ub = F.when(p >= 8, F.lit(1.0)).otherwise(
        j_ub + F.lit(0.1) * p.cast("double") * (F.lit(1.0) - j_ub)
    )
    sim_ub = F.when(both_doi, j_ub).otherwise(jw_ub)
    gate = sim_ub >= thr

    # Arrow-boundary byte diet: equal-title pairs (the dup-heavy majority
    # of gate survivors) don't need their strings in Python — the UDF's
    # fillna("") fast path scores (NULL, NULL) exactly like two equal
    # strings (1.0), so ship NULLs for them (an Arrow NULL carries no
    # string bytes). eqNullSafe keeps the NULL-vs-"" pair on the kernel
    # path, where jaro("", "") == 1.0 preserves the old fillna semantics.
    _neq = ~t_a.eqNullSafe(t_b)
    sim = _title_sim_udf(
        F.when(_neq, t_a), F.when(_neq, t_b), both_doi
    )
    cols = [F.col("a"), F.col("b"), sim.alias("sim")]
    if containment:
        contained = _title_contained(CONTAINMENT_MIN_LEN)
        cols.append(contained.alias("title_contained"))
        surv = (
            j1.filter(gate | contained)
            .select(*cols)
            .filter((F.col("sim") >= thr) | F.col("title_contained"))
        )
    else:
        surv = j1.filter(gate).select(*cols).filter(F.col("sim") >= thr)

    wide = feat.select(*[c for c in _FEATURE_COLS if c != "norm_title"])
    j2 = (
        surv.join(_side_cols(wide, "a"), surv["a"] == F.col("a_rid"))
        .join(_side_cols(wide, "b"), surv["b"] == F.col("b_rid"))
    )
    m = _field_matches()
    both_doi, doi_eq = _doi_presence()
    is_dup = _arm_predicate(F.col("sim"), m, both_doi, doi_eq)
    if containment:
        is_dup = is_dup | _corroborated(F.col("title_contained"), m)
    return j2.filter(is_dup).select("a", "b")


def containment_pairs(
    pairs: DataFrame, feat: DataFrame, min_len: int = CONTAINMENT_MIN_LEN
) -> DataFrame:
    """Pairs passing ONLY the C4 containment arm — pure JVM expressions
    end-to-end (no similarity UDF), so the whole check stays in codegen."""
    j = _join_sides(pairs, feat)
    return j.filter(_containment_arm(_field_matches(), min_len)).select("a", "b")
