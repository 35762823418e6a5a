"""Candidate-pair generation tiers (C1-C5, C7 of SURVEY.md §2.8).

The reference compares all pairs within a year block — O(n_y²)
(src/dedupe.rs:594-655). At 10⁹+ rows the pairwise join is replaced by
candidate tiers; the reference predicate then verifies candidates only, so
precision is reference-identical and recall is governed by tier coverage:

- T0 exact identity: equi-joins on the (parse-normalized) DOI, the PMID and
  the accession number — the reference's identity fields (src/lib.rs:299-304)
- T1 MinHash-LSH band keys over norm_title shingles
- T2 SimHash quarter keys for short titles
- T3 prefix/suffix slices of norm_title (C4 containment admission)

All tiers block on year_key (M1: comparisons never cross blocks). Skew (C7):
a bucket larger than ``max_bucket`` (mega-journal year blocks, boilerplate
titles) would generate O(n²) pairs; the ``star`` policy links every member to
the bucket's min-rid seed instead (n-1 pairs) — connected components then
recovers the full group through the seed. AQE skew-join splitting handles
physical skew on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: C4 affix length: the prefix and suffix keys are the first / last AFFIX_LEN
#: chars of norm_title; shorter titles get no affix key
AFFIX_LEN = 24


def pairs_from_rid_lists(grouped: DataFrame, max_bucket: int) -> DataFrame:
    """(rids sorted-array) rows -> candidate pairs (a, b) with a < b.

    Pair expansion is a JVM-side explode (no second shuffle, no window
    sort). Buckets within ``max_bucket`` produce all pairs; oversize buckets
    produce star pairs against the min-rid element (C7).

    ONE pass over the bucket exchange: the small-bucket all-pairs arrays and
    the oversize-bucket star arrays are built as branches of a single
    conditional projection and exploded once. The previous two-branch form
    (small filter + big filter unioned) planned a ReusedExchange that read
    the whole grouped shuffle TWICE — 8.6 GB read for the flagship's 4.3 GB
    bucket exchange (r06 baseline event log, stage 111). Pair-set equality
    with the two-branch form: rids are sorted and unique within a bucket, so
    slicing past index i equals filtering on (x > rids[i]); pinned by the
    strategy-identity tests in tests/test_skew_and_detect.py.
    """
    grouped = grouped.filter(F.size("rids") > 1).select("rids")
    rids = F.col("rids")
    n = F.size(rids)
    all_pairs = F.flatten(
        F.transform(
            rids,
            lambda x, i: F.transform(
                F.slice(rids, i + F.lit(2), n - i - F.lit(1)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    star_pairs = F.transform(
        F.slice(rids, F.lit(2), n - F.lit(1)),
        lambda y: F.struct(rids[0].alias("a"), y.alias("b")),
    )
    structs = F.when(n <= max_bucket, all_pairs).otherwise(star_pairs)
    return grouped.select(F.explode(structs).alias("p")).select("p.a", "p.b")


def self_join_pairs(
    keyed: DataFrame, keys: list[str], max_bucket: int
) -> DataFrame:
    """(keys..., rid) -> candidate pairs (a, b) with a < b.

    ONE shuffle: groupBy bucket -> sorted rid array; singleton buckets (the
    overwhelming majority at scale) die in the aggregation; see
    ``pairs_from_rid_lists`` for the expansion / star-cap policy.
    """
    grouped = keyed.groupBy(*[F.col(k) for k in keys]).agg(
        F.sort_array(F.collect_list("rid")).alias("rids")
    )
    return pairs_from_rid_lists(grouped, max_bucket)


#: C1 exact-identity tier: (tier salt, feature column). Two records sharing
#: any identity value become candidates even when their titles diverge enough
#: to escape every LSH band (the verify predicate still decides dup-ness).
IDENTITY_TIERS = (("doi", "doi"), ("pmid", "pmid"), ("accn", "accession_number"))


def identity_keyed(
    feat: DataFrame, tiers: tuple = IDENTITY_TIERS
) -> DataFrame:
    """(year_key, bkey, rid) rows for the exact-identity tier (C1)."""
    parts = [
        feat.filter(F.col(col).isNotNull() & (F.col(col) != "")).select(
            "year_key",
            F.xxhash64(F.lit(salt), F.col(col)).alias("bkey"),
            "rid",
        )
        for salt, col in tiers
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def affix_keyed(feat: DataFrame, which: str, length: int) -> DataFrame:
    """C4 containment-admission keys: the first (``prefix``) or last
    (``suffix``) ``length`` chars of norm_title. Tail-truncated/decorated
    titles share a prefix slice even when band hashes diverge; HEAD-truncated
    ones ('[Abstract] ...', dropped leading words) share the suffix slice.
    Boilerplate affixes are tamed by the same star cap as every bucket."""
    slc = (
        F.substring("norm_title", 1, length)
        if which == "prefix"
        else F.substring("norm_title", -length, length)
    )
    return feat.filter(F.length("norm_title") >= length).select(
        "year_key",
        F.xxhash64(F.lit(which), slc).alias("bkey"),
        "rid",
    )


def self_join_pairs_salted(
    keyed: DataFrame, keys: list[str], max_bucket: int, salt: int = 16
) -> DataFrame:
    """Skew-hardened twin of ``self_join_pairs`` (C7, north_rule's salted
    repartitioning): identical output pairs, but NO task ever materializes a
    whole bucket.

    ``self_join_pairs`` collect_lists each bucket before capping — bounded
    pairs, but a 10^8-member boilerplate bucket is one 800 MB aggregation
    buffer on one task. Here:

    1. bucket sizes + min rid via a SALTED two-level aggregation — partial
       (bucket, rid%salt) aggregates combine map-side, so the hot bucket's
       size is computed by ``salt`` tasks, then ``salt`` tiny rows merge;
    2. small buckets (<= max_bucket) take the exact all-pairs path (their
       collect_list is bounded by max_bucket by construction);
    3. oversize buckets emit star pairs by STREAMING the keyed rows through
       a join against their (bucket -> min_rid) table — row-at-a-time, no
       list; AQE skew-join splits the hot probe partitions.
    """
    kcols = [F.col(k) for k in keys]
    salted = keyed.groupBy(
        *kcols, F.pmod(F.xxhash64("rid"), F.lit(salt)).alias("__salt")
    ).agg(F.count(F.lit(1)).alias("c"), F.min("rid").alias("m"))
    sizes = (
        salted.groupBy(*kcols)
        .agg(F.sum("c").alias("n"), F.min("m").alias("min_rid"))
        .filter(F.col("n") > 1)
    )

    small_keys = sizes.filter(F.col("n") <= max_bucket).select(*keys)
    small = keyed.join(small_keys, keys)
    small_pairs = (
        small.groupBy(*kcols)
        .agg(F.sort_array(F.collect_list("rid")).alias("rids"))
        .select("rids")
        .select(F.explode("rids").alias("a"), F.col("rids"))
        .select(
            "a",
            F.explode(F.filter("rids", lambda x: x > F.col("a"))).alias("b"),
        )
    )

    big_keys = sizes.filter(F.col("n") > max_bucket).select(*keys, "min_rid")
    big_pairs = (
        keyed.join(big_keys, keys)
        .filter(F.col("rid") != F.col("min_rid"))
        .select(F.col("min_rid").alias("a"), F.col("rid").alias("b"))
    )
    return small_pairs.unionByName(big_pairs)


def flat_candidate_keys(feat: DataFrame, cfg) -> DataFrame:
    """ONE-SCAN tier-key generation: every tier's keys (identity, LSH band,
    SimHash quarter, affix) are built as conditional arrays in a single
    projection, concatenated, and exploded once — (year_key, bkey, rid) rows
    identical (as a multiset) to unioning one branch per tier, established by
    tests/test_skew_and_detect.py's keyed-identity test.

    Why not a union of per-tier branches: each branch is a SEPARATE scan of
    the (spilled) feature table — with fine input splits that is thousands of
    extra map tasks whose scheduling/dispatch cost is core-count-independent
    (pure fixed cost under the scaling gate), plus 6x decode of the shared
    rid/year_key columns. One scan + one explode keeps the whole key build
    inside one whole-stage-codegen pass.
    """
    empty = F.array().cast("array<bigint>")

    def opt(cond, key):
        return F.coalesce(F.when(cond, F.array(key)), empty)

    def ident(salt: str, col: str):
        c = F.col(col)
        return opt(c.isNotNull() & (c != ""), F.xxhash64(F.lit(salt), c))

    id_tiers = IDENTITY_TIERS if cfg.pmid_accession_tiers else IDENTITY_TIERS[:1]
    parts = [ident(salt, col) for salt, col in id_tiers]
    # coalesce: F.concat is NULL-absorbing — one NULL key array (a record
    # that skipped feature extraction) must not erase the record's other tiers
    parts.append(
        F.coalesce(
            F.transform("lsh_keys", lambda k: F.xxhash64(F.lit("lsh"), k)), empty
        )
    )
    if cfg.simhash_enabled:
        parts.append(
            F.coalesce(
                F.transform("simhash_keys", lambda k: F.xxhash64(F.lit("sim"), k)),
                empty,
            )
        )
    long_enough = F.length("norm_title") >= AFFIX_LEN
    if cfg.prefix_tier:
        parts.append(
            opt(
                long_enough,
                F.xxhash64(F.lit("prefix"), F.substring("norm_title", 1, AFFIX_LEN)),
            )
        )
    parts.append(
        opt(
            long_enough,
            F.xxhash64(
                F.lit("suffix"), F.substring("norm_title", -AFFIX_LEN, AFFIX_LEN)
            ),
        )
    )
    return feat.select(
        "year_key", F.explode(F.concat(*parts)).alias("bkey"), "rid"
    )


def candidate_pairs(feat: DataFrame, cfg) -> DataFrame:
    """All tiers unioned and deduped (C5). ``feat`` must carry
    rid, year_key, doi, pmid, accession_number, norm_title, lsh_keys,
    simhash_keys.

    Single-shuffle tier union: every tier key is hashed into ONE int64
    ``bkey`` column (tier-salted xxhash64) per RECORD in a single scan
    (``flat_candidate_keys``), and all tiers share one self-join — one
    shuffle for bucket sizing, one for the pair dedup, instead of one per
    tier. Hash collisions across tiers only add candidates; verify keeps
    precision exact. The candidate stage's cost at a given core count is
    dominated by shuffle-stage latency (scheduler + AQE + barrier per
    stage), not by keyed-row volume: this 2-shuffle DAG's one big self-join
    scaled 3.8/4 from 8->32 cores at 3M records.
    """
    keyed = flat_candidate_keys(feat, cfg)
    # no pre-distinct: (bucket, rid) rows are already unique within each tier
    # and the tier salt keeps them distinct across tiers
    gen = self_join_pairs_salted if cfg.salted_pairs else self_join_pairs
    # year_key folded INTO the 64-bit bucket key: the keyed-row exchange is
    # the pipeline's widest shuffle (~20 rows/record), and one long key
    # instead of (int, long) narrows the row ~25% and makes the bucket
    # groupBy a single-long radix sort/hash. A 2^-64 key collision merges
    # two buckets (including across year blocks). Usually that only adds
    # candidates, which verify rejects — but if the merged bucket exceeds
    # ``max_bucket`` it is star-capped, and every member of the bucket that
    # does not hold the min rid loses its all-pairs edges: true pairs can
    # be dropped (a recall loss; precision stays exact). The tier-salted
    # xxhash64 keys above spend the same negligible-collision budget.
    keyed = keyed.select(F.xxhash64("year_key", "bkey").alias("bkey"), "rid")
    pairs = gen(keyed, ["bkey"], cfg.max_bucket)
    # C5: one verify per unordered pair (same pair can surface in many tiers)
    return pairs.distinct()
