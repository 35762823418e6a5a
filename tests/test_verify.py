"""Narrow-first verify must be pair-set-identical to the single-join plan.

The two-stage verify (operators/verify.py verify_pairs) moves the
title-similarity evaluation into a narrow (rid, norm_title, doi) join and
defers the wide field-match join to the survivors. Its stage-1 threshold is
the exact per-pair minimum any reference arm accepts, so the output pair set
must equal the single-join plan's on any input — asserted here on the
synthetic corpus with containment both off and on. The single-join plan
lives here as the reference: it is the predicate evaluated in one join over
the full feature rows, built from verify.py's own predicate pieces.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from biblib_spark.corpus import make_corpus
from biblib_spark.operators.candidates import candidate_pairs
from biblib_spark.operators.dedupe import (
    DedupConfig,
    features_from_corpus,
)
from biblib_spark.operators.verify import (
    _arm_predicate,
    _containment_arm,
    _doi_presence,
    _field_matches,
    _join_sides,
    _title_sim_udf,
    verify_pairs,
)


def _single_join_verify(pairs, feat, containment, containment_min_len=20):
    """Reference plan: one join pulls both sides' full feature rows, then
    the reference arms (and the containment arm) filter the joined pairs."""
    j = _join_sides(pairs, feat)
    m = _field_matches()
    both_doi, doi_eq = _doi_presence()
    sim = _title_sim_udf(F.col("a_norm_title"), F.col("b_norm_title"), both_doi)
    is_dup = _arm_predicate(sim, m, both_doi, doi_eq)
    if containment:
        is_dup = is_dup | _containment_arm(m, containment_min_len)
    return j.filter(is_dup).select("a", "b")


def _pairs(df):
    return {(r["a"], r["b"]) for r in df.collect()}


def test_narrow_first_verify_pair_set_identical(spark):
    cfg = DedupConfig()
    corpus = make_corpus(spark, num_payloads=200, records_per_payload=5, seed=23)
    feat = features_from_corpus(corpus, cfg).localCheckpoint(eager=True)
    cand = candidate_pairs(feat, cfg).localCheckpoint(eager=True)
    assert cand.count() > 100

    for containment in (False, True):
        wide = _pairs(_single_join_verify(cand, feat, containment))
        narrow = _pairs(verify_pairs(cand, feat, containment=containment))
        assert narrow == wide, (
            f"containment={containment}: narrow-first verify diverged "
            f"(+{len(narrow - wide)} / -{len(wide - narrow)})"
        )
        assert len(wide) > 0
