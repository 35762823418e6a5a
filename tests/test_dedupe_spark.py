"""Spark dedup pipeline vs reference semantics.

Scenario tests port /root/reference/src/dedupe.rs:873-969,1141-1349; the
recall harness asserts dup-pair recall >= 0.99 (BASELINE.json) against the
greedy-reference oracle in reference_impl.py on the synthetic corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from biblib_spark.operators.dedupe import DedupConfig, dedupe_records
from tests.reference_impl import (
    RefConfig,
    pairs_from_groups,
    reference_find_duplicates,
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("rid", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("journal", T.StringType()),
        T.StructField("journal_abbr", T.StringType()),
        T.StructField("volume", T.StringType()),
        T.StructField("pages", T.StringType()),
        T.StructField("issn", T.ArrayType(T.StringType())),
        T.StructField("doi", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("abstract_text", T.StringType()),
    ]
)


def _rec(rid, title, doi=None, journal=None, journal_abbr=None, volume=None,
         pages=None, issn=None, year=None, abstract=None, source=None):
    return {
        "rid": rid, "source": source, "title": title, "journal": journal,
        "journal_abbr": journal_abbr, "volume": volume, "pages": pages,
        "issn": issn or [], "doi": doi, "year": year, "abstract_text": abstract,
    }


def _run(spark, recs, cfg=None):
    df = spark.createDataFrame(recs, schema=RECORD_SCHEMA)
    rows = dedupe_records(df, cfg).collect()
    clusters: dict[int, list] = {}
    uniques: dict[int, int] = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, []).append(r.rid)
        if r.is_unique:
            uniques[r.cluster_id] = r.rid
    return rows, clusters, uniques


def _spark_pairs(clusters):
    out = set()
    for members in clusters.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out


def test_find_duplicates_doi_basic(spark):
    # dedupe.rs:873-923
    recs = [
        _rec(0, "Title 1", doi="10.1234/abc", journal="Journal 1", year=2020),
        _rec(1, "Title 1", doi="10.1234/abc", journal="Journal 1", year=2020),
        _rec(2, "Title 2", doi="10.1234/def", journal="Journal 2", year=2020),
    ]
    _, clusters, _ = _run(spark, recs)
    assert len(clusters) == 2
    assert sorted(map(sorted, clusters.values())) == [[0, 1], [2]]


def test_missing_doi_falls_to_jw_branch(spark):
    # dedupe.rs:926-969 — empty-string DOI means the pair uses jaro_winkler
    recs = [
        _rec(0, "Title 1", doi="10.1234/abc", journal="Journal 1", volume="24", year=2020),
        _rec(1, "Title 1", doi="", journal="Journal 1", volume="24", year=2020),
        _rec(2, "Title 2", doi="", journal="Journal 2", year=2020),
    ]
    _, clusters, _ = _run(spark, recs)
    assert len(clusters) == 2
    assert sorted(map(sorted, clusters.values())) == [[0, 1], [2]]


def test_year_blocking(spark):
    # dedupe.rs:1141-1183 — same record in different years
    recs = [
        _rec(0, "Title 1", doi="10.1234/abc", journal="Journal 1", year=2020),
        _rec(1, "Title 1", doi="10.1234/abc", journal="Journal 1", year=2019),
    ]
    # default: year grouping on → no match across years
    _, clusters, _ = _run(spark, recs)
    assert len(clusters) == 2
    # grouping off → one group
    _, clusters, _ = _run(spark, recs, DedupConfig(group_by_year=False))
    assert len(clusters) == 1


def test_null_years_share_one_block(spark):
    # dedupe.rs:695-705 — missing years form block 0 and can match each other
    recs = [
        _rec(0, "Shared Title", doi="10.1/x", journal="J", year=None),
        _rec(1, "Shared Title", doi="10.1/x", journal="J", year=None),
    ]
    _, clusters, _ = _run(spark, recs)
    assert len(clusters) == 1


def test_source_preferences(spark):
    # dedupe.rs:1186-1228
    recs = [
        _rec(0, "Title 1", doi="10.1234/abc", journal="Journal 1", year=2020, source="source2"),
        _rec(1, "Title 1", doi="10.1234/abc", journal="Journal 1", year=2020, source="source1"),
    ]
    cfg = DedupConfig(source_preferences=["source1", "source2"])
    _, clusters, uniques = _run(spark, recs, cfg)
    assert len(clusters) == 1
    assert list(uniques.values()) == [1]


def test_abstract_preference(spark):
    # dedupe.rs:1231-1266
    recs = [
        _rec(0, "Title 1", doi="10.1234/abc", journal="Journal 1", year=2020),
        _rec(1, "Title 1", doi="10.1234/abc", journal="Journal 1", year=2020,
             abstract="Abstract"),
    ]
    _, clusters, uniques = _run(spark, recs)
    assert len(clusters) == 1
    assert list(uniques.values()) == [1]


def test_source_preferences_with_year_grouping(spark):
    # dedupe.rs:1269-1349
    recs = [
        _rec(0, "Test Article 2020", doi="10.1234/test2020", journal="Test Journal",
             year=2020, source="Embase"),
        _rec(1, "Test Article 2020", doi="10.1234/test2020", journal="Test Journal",
             year=2020, source="PubMed"),
        _rec(2, "Test Article 2021", doi="10.1234/test2021", journal="Test Journal",
             year=2021, source="Embase"),
        _rec(3, "Test Article 2021", doi="10.1234/test2021", journal="Test Journal",
             year=2021, source="PubMed"),
    ]
    cfg = DedupConfig(source_preferences=["PubMed", "Embase"])
    _, clusters, uniques = _run(spark, recs, cfg)
    assert len(clusters) == 2
    assert sorted(uniques.values()) == [1, 3]
    for members in clusters.values():
        assert len(members) == 2


def test_title_normalization_in_matching(spark):
    # punctuation/HTML/Greek variants normalize identically (dedupe.rs:723-740)
    recs = [
        _rec(0, "Machine Learning! (2<sup>nd</sup> Edition)", doi="10.1/ml",
             journal="J. ML", year=2021),
        _rec(1, "machine learning 2nd edition", doi="10.1/ml",
             journal="J. ML", year=2021),
    ]
    _, clusters, _ = _run(spark, recs)
    assert len(clusters) == 1


def test_identity_tier_rescues_lsh_miss(spark):
    """C1: a pair sharing a PMID (or accession number) must become a candidate
    even when every similarity tier misses it. LSH is starved (bands=1 -> one
    key over the whole signature, so ANY shingle diff kills it), simhash and
    prefix tiers are off; only the identity tier can surface the pair, and the
    reference predicate then verifies it."""
    starved = DedupConfig(bands=1, simhash_enabled=False, prefix_tier=False)

    def rec(rid, title, pmid=None, accn=None):
        r = _rec(rid, title, journal="J Renal", volume="12", year=2001)
        r["pmid"] = pmid
        r["accession_number"] = accn
        return r

    recs = [
        rec(1, "Analysis of renal outcomes", pmid="123"),
        rec(2, "Analysis of renal outcome", pmid="123"),  # jw >= 0.93
        rec(3, "Analysis of renal outcomes x", pmid="999"),  # no shared id
        rec(4, "Cohort imaging of vascular markers", accn="NCT-7"),
        rec(5, "Cohort imaging of vascular marker", accn="NCT-7"),
    ]
    import pyspark.sql.types as T2

    schema = T2.StructType(
        RECORD_SCHEMA.fields
        + [
            T2.StructField("pmid", T2.StringType()),
            T2.StructField("accession_number", T2.StringType()),
        ]
    )
    df = spark.createDataFrame(recs, schema=schema)
    rows = dedupe_records(df, starved).collect()
    by_cluster: dict[int, set] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.rid)
    groups = {frozenset(v) for v in by_cluster.values()}
    assert frozenset({1, 2}) in groups  # pmid tier
    assert frozenset({4, 5}) in groups  # accession tier
    assert frozenset({3}) in groups  # different pmid -> stays singleton


def test_containment_pass_clusters_truncated_titles(spark):
    """C4: a head-truncated title (substring of the full title, jaro 0.74 --
    far below every reference threshold) must cluster via the suffix-key
    admission + containment verify arm, with journal+volume+year
    corroboration. Without corroboration it must NOT cluster."""
    full = "Randomized clinical trial of renal outcomes in pediatric cohorts"
    trunc = "Trial of renal outcomes in pediatric cohorts"
    recs = [
        _rec(1, full, journal="J Ped", volume="9", year=2005),
        _rec(2, trunc, journal="J Ped", volume="9", year=2005),
        # same containment shape but no journal/issn corroboration
        _rec(3, full + " extra tokens qq", volume="9", year=2005),
        _rec(4, trunc + " extra tokens qq", volume="9", year=2005),
    ]
    _, clusters, _ = _run(spark, recs)
    groups = {frozenset(v) for v in clusters.values()}
    assert frozenset({1, 2}) in groups
    assert frozenset({3}) in groups and frozenset({4}) in groups

    # containment off -> reference predicate only -> no cluster
    cfg = DedupConfig(containment_verify=False)
    _, clusters_off, _ = _run(spark, recs[:2], cfg)
    assert {frozenset(v) for v in clusters_off.values()} == {
        frozenset({1}),
        frozenset({2}),
    }


@pytest.mark.slow
def test_recall_vs_reference_on_synthetic_corpus(spark):
    """Dup-pair recall >= 0.99 vs the greedy-reference oracle (BASELINE.json)."""
    from biblib_spark.corpus import make_corpus
    from biblib_spark.operators.dedupe import records_from_parsed
    from biblib_spark.sources.parse import parse_corpus

    corpus = make_corpus(spark, num_payloads=300, records_per_payload=6, seed=7)
    parsed = parse_corpus(corpus)
    records = records_from_parsed(parsed)

    # oracle: same records through the greedy reference implementation
    local = records.orderBy("rid").collect()
    cits = [r.asDict() for r in local]
    rid_by_pos = [c["rid"] for c in cits]
    expected_groups = reference_find_duplicates(cits, RefConfig())
    expected_pairs = {
        (rid_by_pos[a], rid_by_pos[b]) for a, b in pairs_from_groups(expected_groups)
    }
    assert len(expected_pairs) > 100, "corpus should contain real duplicates"

    _, clusters, _ = _run(spark, cits)
    got_pairs = _spark_pairs(clusters)

    recall = len(expected_pairs & got_pairs) / len(expected_pairs)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"
    # the stated metric gates recall only, but the extension tiers
    # (identity / suffix / containment) must not merge beyond the reference
    # semantics on this corpus either
    precision = len(expected_pairs & got_pairs) / len(got_pairs)
    assert precision >= 0.99, f"dup-pair precision {precision:.4f} < 0.99"

    # the synthetic corpus carries the ground-truth work id in the RIS AN
    # tag, which the accession identity tier legitimately keys on — so also
    # prove the SIMILARITY tiers meet the gate without that shortcut
    _, clusters_sim, _ = _run(
        spark, cits, DedupConfig(pmid_accession_tiers=False)
    )
    got_sim = _spark_pairs(clusters_sim)
    recall_sim = len(expected_pairs & got_sim) / len(expected_pairs)
    assert recall_sim >= 0.99, (
        f"similarity-tier recall {recall_sim:.4f} < 0.99 (no pmid/accession)"
    )


def test_rid_overflow_raises_instead_of_colliding(spark):
    """rid = row_id * 2^bits + record_idx: a payload with more records than
    2^bits would alias the next payload's rids, so both rid builders raise."""
    from biblib_spark.operators.dedupe import (
        features_from_corpus,
        records_from_parsed,
    )
    from biblib_spark.sources.parse import parse_corpus

    payload = "".join(
        f"TY  - JOUR\nTI  - Renal outcomes study number {i}\nPY  - 2001\nER  - \n\n"
        for i in range(3)
    )
    corpus = spark.createDataFrame([(0, payload)], "row_id long, content string")
    assert parse_corpus(corpus).count() == 3

    with pytest.raises(Exception, match="record_idx_bits=1"):
        features_from_corpus(corpus, record_idx_bits=1).collect()
    with pytest.raises(Exception, match="record_idx_bits=1"):
        records_from_parsed(parse_corpus(corpus), record_idx_bits=1).collect()
    # two records fit in one bit: no error, distinct rids
    assert records_from_parsed(
        parse_corpus(corpus).filter("record_idx < 2"), record_idx_bits=1
    ).count() == 2


def test_connected_components_raises_without_fixpoint(spark):
    """A 12-vertex path with one edge per partition leaves every inner vertex
    in two partitions' forests after level 1, so it needs more levels than
    max_iter=1: CC must raise instead of returning unfinished (split)
    labels."""
    from biblib_spark.operators.components import connected_components

    rows = [(i, i + 1) for i in range(11)]
    edges = spark.sparkContext.parallelize(rows, len(rows)).toDF("a long, b long")
    assert edges.rdd.getNumPartitions() == len(rows)
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edges, max_iter=1)
    labels = {r.cluster_id for r in connected_components(edges).collect()}
    assert labels == {0}


def _union_find_labels(edges):
    """Independent reference: sequential union-find, min-rid roots."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _cc_graphs():
    import random

    rng = random.Random(7)
    return {
        "path": [(i, i + 1) for i in range(30)],
        # rids fall along the row order, and each edge is written (hi, lo)
        "path_reversed": [(30 - i, 29 - i) for i in range(30)],
        "stars": [(0, i) for i in range(1, 20)]
        + [(120, i) for i in range(100, 120)],
        "cliques": [
            (o + i, o + j) for o in (0, 50) for i in range(8) for j in range(8)
            if i < j
        ],
        "random_sparse": [(rng.randrange(400), rng.randrange(400)) for _ in range(300)],
        "duplicate_edges": [(3, 4), (4, 3), (3, 4), (4, 5), (4, 5), (9, 8), (8, 9)],
        "self_loops": [(5, 5), (5, 6), (7, 7), (6, 6)],
        "empty": [],
    }


@pytest.mark.parametrize("partitions", [1, 4, 16, 64])
def test_connected_components_matches_union_find(spark, partitions):
    """Row-for-row agreement with a sequential union-find on every graph
    family; 1..64 input partitions spread components over 1..many levels."""
    from biblib_spark.operators.components import connected_components

    for name, rows in _cc_graphs().items():
        edges = spark.createDataFrame(rows, "a long, b long").repartition(partitions)
        got = connected_components(edges).collect()
        assert len(got) == len({r.rid for r in got}), name
        assert {r.rid: r.cluster_id for r in got} == _union_find_labels(rows), name


def test_connected_components_job_count(spark):
    """A 16-edge path over 4 partitions needs two union-find levels; each is
    one eager checkpoint (AQE: a map-stage job + a result job) and nothing
    else — no per-round collect() or certificate job."""
    from biblib_spark.operators.components import connected_components

    rows = [(i, i + 1) for i in range(16)]
    edges = spark.sparkContext.parallelize(rows, 4).toDF("a long, b long")
    sc = spark.sparkContext
    sc.setJobGroup("cc_job_count", "connected_components job count")
    try:
        cc = connected_components(edges)
        jobs = sc.statusTracker().getJobIdsForGroup("cc_job_count")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 4, f"{len(jobs)} jobs"
    assert {r.cluster_id for r in cc.collect()} == {0}
