"""Skew handling (C7 star policy) and format-dispatch matrix (S2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biblib_spark.kernels.detect import detect_format


def test_detect_format_matrix():
    """Dispatch order parity with lib.rs:380-469."""
    cases = [
        ("", "Unknown"),
        ("   \n ", "Unknown"),
        ("TY  - JOUR\nTI  - T\nER  -", "RIS"),
        ("Record #1\nTY  - JOUR\nER  -", "RIS"),
        ("PMID- 123\nTI  - T\n", "PubMed"),
        ("some preamble\nPMID- 123\n", "PubMed"),
        ("%0 Journal Article\n%T T\n", "EndNote Tagged"),
        ("@article{k, title={T}}", "BibTeX / BibLaTeX"),
        ('<?xml version="1.0"?><xml><records/></xml>', "EndNote XML"),
        ("<xml><records/></xml>", "EndNote XML"),
        (
            "<?xml version='1.0'?><Trials_downloaded_from_ICTRP>"
            "<Trial><TrialID>X</TrialID></Trial></Trials_downloaded_from_ICTRP>",
            "ICTRP XML",
        ),
        (
            "TrialID,Public title,Scientific title,Date registration,Source Register\n"
            "N1,P,S,01/05/2026,Reg\n",
            "ICTRP CSV",
        ),
        # generic CSV is never auto-detected (lib.rs:468)
        ("Title,Author,Year\nT,A,2023\n", "Unknown"),
        # ICTRP XML beats the generic XML branch even with an xml prolog
        # (checked before EndNote XML, lib.rs:389-397)
    ]
    for content, expected in cases:
        assert detect_format(content) == expected, content[:40]


@pytest.fixture(scope="module")
def skew_clusters(spark):
    """1 mega-bucket (one boilerplate title, shared year+journal+volume+pages)
    of 300 records — way over max_bucket — plus normal records."""
    from pyspark.sql import types as T

    from biblib_spark.operators.dedupe import DedupConfig, dedupe_records

    schema = T.StructType(
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
    hot = [
        {
            "rid": i, "source": None,
            "title": "Annual report of the surveillance committee",
            "journal": "Bulletin", "journal_abbr": None, "volume": "1",
            "pages": "1-10", "issn": [], "doi": "10.1/boilerplate",
            "year": 2000, "abstract_text": None,
        }
        for i in range(300)
    ]
    cold = [
        {
            "rid": 1000 + i, "source": None, "title": f"Unique study {i} zqv",
            "journal": f"J{i}", "journal_abbr": None, "volume": str(i),
            "pages": f"{i}-{i+1}", "issn": [], "doi": f"10.9/u{i}",
            "year": 2000, "abstract_text": None,
        }
        for i in range(50)
    ]
    df = spark.createDataFrame(hot + cold, schema=schema)
    cfg = DedupConfig(max_bucket=64)  # 300 >> 64 triggers the star policy
    return dedupe_records(df, cfg).collect()


def test_star_policy_recovers_mega_cluster(skew_clusters):
    rows = skew_clusters
    hot_clusters = {r.cluster_id for r in rows if r.rid < 1000}
    # star pairs against the bucket seed + CC must still produce ONE cluster
    assert hot_clusters == {0}
    winners = [r.rid for r in rows if r.rid < 1000 and r.is_unique]
    assert winners == [0]


def test_star_policy_leaves_singletons_alone(skew_clusters):
    rows = skew_clusters
    cold = [r for r in rows if r.rid >= 1000]
    assert all(r.cluster_id == r.rid and r.is_unique for r in cold)


def test_simhash_doc_near_dup(spark):
    """Doc-level SimHash: a lightly-edited copy must surface with small
    hamming; unrelated docs must not pass a tight threshold."""
    from biblib_spark.operators.textops import near_dup_pairs_simhash

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside"
    )
    edited = base + " today"  # appended-tail near-dup
    other = (
        "completely different content about distributed query execution "
        "plans shuffle partitions and adaptive optimization in engines"
    )
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, other), (4, other + " extra")],
        "doc_id long, text string",
    )
    pairs = {
        (r.a, r.b): r.hamming
        for r in near_dup_pairs_simhash(docs, max_hamming=12).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 12
    assert (3, 4) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_salted_pair_generation_identical(spark):
    """C7 salted repartitioning: self_join_pairs_salted must produce EXACTLY
    the pairs of the collect_list path — all-pairs for small buckets, star
    pairs to the bucket min for oversize ones — while never materializing a
    whole bucket on one task."""
    from pyspark.sql import functions as F

    from biblib_spark.operators.candidates import (
        self_join_pairs,
        self_join_pairs_salted,
    )

    rows = []
    # mega bucket (key 1): 300 members; medium (key 2): 10; singleton (key 3)
    rows += [(0, 1, i) for i in range(300)]
    rows += [(0, 2, 1000 + i) for i in range(10)]
    rows += [(0, 3, 2000)]
    rows += [(7, 1, 3000 + i) for i in range(3)]  # same bkey, other year
    keyed = spark.createDataFrame(rows, "year_key int, bkey long, rid long")

    base = {
        (r.a, r.b)
        for r in self_join_pairs(keyed, ["year_key", "bkey"], 64).collect()
    }
    salted = {
        (r.a, r.b)
        for r in self_join_pairs_salted(
            keyed, ["year_key", "bkey"], 64, salt=8
        ).collect()
    }
    assert salted == base
    assert (0, 299) in salted  # star edge to the mega-bucket min
    assert (1000, 1009) in salted  # full pairs in the medium bucket
    assert len([p for p in salted if p[0] == 0]) == 299


def test_dedupe_with_salted_pairs_matches_default(spark):
    from biblib_spark.corpus import make_corpus
    from biblib_spark.operators.dedupe import DedupConfig, dedupe_corpus

    corpus = make_corpus(spark, 80, seed=17)
    a = dedupe_corpus(corpus, DedupConfig()).collect()
    b = dedupe_corpus(corpus, DedupConfig(salted_pairs=True)).collect()
    assert {(r.rid, r.cluster_id, r.is_unique) for r in a} == {
        (r.rid, r.cluster_id, r.is_unique) for r in b
    }


def test_prefix_tier_catches_truncation_pairs(spark):
    """C4: a truncated-title duplicate whose band hashes diverge is still
    found through the shared-prefix bucket + the jaro>=0.85 DOI arm."""
    from pyspark.sql import types as T

    from biblib_spark.operators.dedupe import DedupConfig, dedupe_records

    schema = T.StructType(
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
    full = "Comparative outcomes of laparoscopic versus open surgery trial"
    truncated = full[:52]  # tail chopped; prefix identical
    recs = [
        {"rid": 0, "source": None, "title": full, "journal": "J Surg",
         "journal_abbr": None, "volume": "9", "pages": "1-9", "issn": [],
         "doi": "10.5/trunc", "year": 2010, "abstract_text": None},
        {"rid": 1, "source": None, "title": truncated, "journal": "J Surg",
         "journal_abbr": None, "volume": "9", "pages": "1-9", "issn": [],
         "doi": "10.5/trunc", "year": 2010, "abstract_text": None},
    ]
    df = spark.createDataFrame(recs, schema=schema)

    # sanity: the pair passes the reference predicate (jaro >= 0.85, same DOI,
    # journal match) — the question is only whether candidates surface it
    from biblib_spark.kernels.norm import normalize_title
    from biblib_spark.kernels.similarity import jaro

    assert jaro(normalize_title(full), normalize_title(truncated)) >= 0.85

    with_prefix = dedupe_records(df, DedupConfig(prefix_tier=True)).collect()
    clusters = {r.cluster_id for r in with_prefix}
    assert len(clusters) == 1, "prefix tier should surface the truncation pair"


def test_flat_candidate_keys_single_scan_identical(spark):
    """The one-scan concatenated-array key build must produce EXACTLY the
    (year_key, bkey, rid) multiset of the per-tier union-of-branches form —
    including NULL/empty identity fields, short titles (no affix keys),
    empty and NULL key arrays."""
    from collections import Counter

    from pyspark.sql import types as T

    from biblib_spark.operators.candidates import (
        AFFIX_LEN,
        IDENTITY_TIERS,
        affix_keyed,
        flat_candidate_keys,
        identity_keyed,
    )
    from biblib_spark.operators.dedupe import DedupConfig

    schema = T.StructType(
        [
            T.StructField("rid", T.LongType()),
            T.StructField("year_key", T.IntegerType()),
            T.StructField("doi", T.StringType()),
            T.StructField("pmid", T.StringType()),
            T.StructField("accession_number", T.StringType()),
            T.StructField("norm_title", T.StringType()),
            T.StructField("lsh_keys", T.ArrayType(T.LongType())),
            T.StructField("simhash_keys", T.ArrayType(T.LongType())),
        ]
    )
    long_t = "assessment of long surgical outcomes in elderly cohorts"
    rows = [
        (1, 2010, "10.1/x", None, None, long_t, [11, 12, 11], [5]),
        (2, 2010, "", "339", "ACC1", "short title", [13], []),
        (3, 0, None, None, None, "", [], [7, 8]),
        (4, 2011, "10.1/x", "339", None, long_t + " extra", None, None),
        (5, 2010, None, None, "ACC1", "x" * 24, [11], [5, 5]),
    ]
    feat = spark.createDataFrame(rows, schema)
    cfg = DedupConfig()

    # reference form: one branch per tier, unioned
    tiers = [
        identity_keyed(
            feat, IDENTITY_TIERS if cfg.pmid_accession_tiers else IDENTITY_TIERS[:1]
        ),
        feat.select("year_key", F.explode("lsh_keys").alias("k"), "rid").select(
            "year_key", F.xxhash64(F.lit("lsh"), F.col("k")).alias("bkey"), "rid"
        ),
        feat.select("year_key", F.explode("simhash_keys").alias("k"), "rid").select(
            "year_key", F.xxhash64(F.lit("sim"), F.col("k")).alias("bkey"), "rid"
        ),
        affix_keyed(feat, "prefix", AFFIX_LEN),
        affix_keyed(feat, "suffix", AFFIX_LEN),
    ]
    union = tiers[0]
    for t in tiers[1:]:
        union = union.unionByName(t)

    expected = Counter(
        (r.year_key, r.bkey, r.rid) for r in union.collect()
    )
    got = Counter(
        (r.year_key, r.bkey, r.rid)
        for r in flat_candidate_keys(feat, cfg).collect()
    )
    assert got == expected
    # rid 4's NULL arrays must not erase its identity/affix keys
    assert any(k[2] == 4 for k in got)
    # duplicate band keys keep their multiplicity (rid 1 has [11, 12, 11])
    lsh_multi = [c for k, c in got.items() if k[2] == 1 and c > 1]
    assert lsh_multi, "duplicate lsh key should appear twice"


def test_planted_mega_block_salted_matches_flat(spark):
    """The round-5 skew-stress corpus (corpus.make_corpus mega_frac: a
    work fraction shares ONE boilerplate title + ONE year — the hot
    LSH-bucket shape of the north_rule) must produce IDENTICAL clusters
    through the flat and salted C7 pair paths, and the mega block itself
    must cluster (star edges, not dropped pairs)."""
    from biblib_spark.corpus import MEGA_TITLE, _is_mega, make_corpus
    from biblib_spark.operators.dedupe import DedupConfig, dedupe_corpus

    # 120 payloads, high mega fraction so the fixture actually contains a
    # hot block at test scale (~25% of works)
    corpus = make_corpus(spark, 120, seed=17, mega_frac=0.25)
    n_mega_works = sum(_is_mega(w, 17, 0.25) for w in range(180))
    assert n_mega_works >= 20  # the stress exists at this scale
    assert (
        corpus.filter(F.col("content").contains(MEGA_TITLE)).count() > 0
    )

    a = dedupe_corpus(corpus, DedupConfig()).collect()
    b = dedupe_corpus(corpus, DedupConfig(salted_pairs=True)).collect()
    assert {(r.rid, r.cluster_id, r.is_unique) for r in a} == {
        (r.rid, r.cluster_id, r.is_unique) for r in b
    }
    # the hot block stresses the CANDIDATE tier only: mega works share
    # title+year (one giant LSH bucket, star-capped) but keep distinct
    # DOIs/journals/volumes/pages, so the reference predicate must REJECT
    # every cross-work pair — no cluster may exceed the per-work variant
    # cap. A max size above 4 would mean the skew corpus corrupted
    # correctness, not just load.
    from collections import Counter

    sizes = Counter(r.cluster_id for r in a)
    assert max(sizes.values()) <= 4
