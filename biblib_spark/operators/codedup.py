"""Source-code near-duplicate detection + clustering (north_rule pipeline).

The tiered matcher over the input_hint table
``(repo, path, commit, lang, content)``, re-using the citation engine's
scale machinery (C5 pair dedup, C7 star cap, C6 connected components) with
code-shaped tiers — the classic clone-type ladder:

- tier E  (exact):      sha256(content) equality — type-0 clones. Edges are
  emitted as rep-stars via a groupBy + equi-join (linear in group size; a
  million-file boilerplate group produces a million edges, never a
  collect_list or a pair explosion).
- tier N  (normalized): md5 of comment-stripped whitespace-collapsed text —
  type-1 clones. Same linear star shape. Normalization is the lexer-grade
  string/comment state machine (kernels/codelex.py — string literals kept
  verbatim, so a ``"http://…"`` URL or a ``# inside a string`` never
  corrupts the hash), run inside the one-pass Arrow feature UDF; the JVM
  regexp twin (:func:`normalize_code_col`) remains as the
  engine-independent oracle check.
- tier M  (MinHash-LSH): MinHash over the TOKEN-4-GRAM hash set of the
  **identifier-canonicalized** token stream (type-2 clones rename every
  identifier, so shingles must be computed after alpha-rename
  normalization), banded LSH keys, star-capped bucket self-join (C7), then
  an exact token-4-gram Jaccard verify entirely in JVM codegen — type-2/3
  clones. Shingling on the same token n-grams the verify measures makes the
  LSH estimator estimate exactly the verified statistic (char shingles
  estimate a different Jaccard AND cost ~5x the signature work on code-
  sized documents).
- tier W  (winnowing):  shared winnowed fingerprints (Schleimer/Wilkerson/
  Aiken MOSS selection: min hash per sliding window over the SAME gram
  sequence) verified by a containment coefficient |A∩B| / min(|A|,|B|) —
  catches a file embedded inside a much larger one, where Jaccard dilutes
  below any near-dup threshold.

All tiers key within ``lang`` (blocking: candidates never cross languages,
the M1 discipline at code granularity). Edges union -> connected components
-> (row_id, cluster_id, cluster_size).

100 TB scale notes: ALL per-row feature work happens in ONE Arrow-batched
pass (``code_features``): the Python canonicalizer loop, then vectorized
numpy for gram hashing, winnow window-mins and the chunked MinHash
signature broadcast (functions/minhash.band_keys_from_hash_arrays). Every
similarity statistic downstream is computed over int64 gram hashes — no
md5 hex strings, no re-tokenization, no second Python pass. Every join is
an equi-join on a bounded-cardinality key with the C7 cap; exact/normalized
tiers never materialize within-group pairs. At 10^12 files the
fingerprint/band tables are the shuffle payload: slim (rid, key) longs,
salted by the existing candidates machinery; the verify joins carry only
(rid, grams) — ~4 KB of longs per row.

Reference parity: biblib has no code-clone counterpart (it is citation-record
dedup, /root/reference/src/dedupe.rs); the tier *disciplines* mirror its
strategy chain — identity tier, LSH tier, containment tier, CC, caps — at
the same shingle/signature config as the document arm (k=5 char shingles,
128 perms, 32 bands, seed 97; docfixtures.py constants).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from biblib_spark.functions.minhash import (
    _perm_params,
    band_keys_from_hash_arrays,
)
from biblib_spark.kernels.codelex import normalize_code_lexed
from biblib_spark.operators.candidates import self_join_pairs
from biblib_spark.operators.components import assign_clusters

# contract config — shared with the oracle fixture (codefixtures.py).
# 48 bands x 4 rows with a >=2-band admission count: collision COUNTING
# (AND-amplification on top of the OR construction) sharpens the s-curve —
# one band of 4 rows admits j=0.2 template noise at ~5 in 1000 bucket pairs,
# which on a low-gram-diversity corpus floods the verify join 50:1; two-of-48
# admits j=0.2 at 0.3% while a j>=0.7 clone pair still collides twice with
# p > 0.9999. The verify threshold (0.6) stays the semantic contract; the
# band config only gates what reaches it.
MINHASH_PERMS, MINHASH_BANDS, MINHASH_SEED = 192, 48, 97
MINHASH_MIN_BANDS = 2
JACCARD_THRESHOLD = 0.6
CONTAINMENT_THRESHOLD = 0.7
TOKEN_GRAM = 4  # the one shingle unit: verify, winnow and MinHash all
#                 measure similarity over token-4-gram hashes
WINNOW_WINDOW, WINNOW_MIN_SHARED = 5, 2
MAX_BUCKET = 64

#: keywords + builtins the canonicalizer must NOT rename (union over the four
#: corpus languages; renaming a keyword would let an alpha-renamed clone
#:  diverge from its origin's canonical stream)
_KEYWORDS = frozenset(
    """def return if else elif for while in not and or None True False lambda
    class import from pass break continue yield with as try except finally
    raise global nonlocal assert del print len range
    static long int void public private final class new this null true false
    switch case default do throw throws extends implements interface package
    function let const var typeof undefined export module require use strict
    func go defer chan map struct type interface select fallthrough package
    nil var range make append copy println
    __all__""".split()
)

_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+|[^A-Za-z0-9_\s]")


def normalize_code_col(content: Column) -> Column:
    """Comment-strip + whitespace-collapse, entirely JVM-side (regex twin).

    Strips ``/* */`` block comments, ``//`` and ``#`` line comments, then
    collapses all whitespace runs to single spaces. Language-agnostic and
    NOT string-literal safe — kept as the engine-independent oracle check
    (`code_norm_dup_groups` replays this exact chain in DuckDB RE2) and as
    the fast path where content is known marker-free. The production
    pipeline (:func:`code_features`) normalizes with the lexer-grade
    string/comment scanner instead (kernels/codelex.py).
    """
    c = F.regexp_replace(content, r"(?s)/\*.*?\*/", " ")
    c = F.regexp_replace(c, r"//[^\n]*", " ")
    c = F.regexp_replace(c, r"#[^\n]*", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def normalize_code_py(content: str) -> str:
    """Pure-Python twin of :func:`normalize_code_col` (oracle fixture +
    parity tests)."""
    c = re.sub(r"(?s)/\*.*?\*/", " ", content)
    c = re.sub(r"//[^\n]*", " ", c)
    c = re.sub(r"#[^\n]*", " ", c)
    c = re.sub(r"\s+", " ", c)
    return c.strip()


#: tokens that open a new function scope in the corpus languages — the
#: canonicalizer restarts identifier numbering here so an edit to one
#: function never renumbers (and so re-shingles) the rest of the file
_SCOPE_STARTERS = frozenset(["def", "function", "func", "static"])


def canonical_token_list(norm: str) -> list[str]:
    """Identifier-canonicalized token list of already-normalized code.

    Tokenizes, then maps every non-keyword identifier to ``v{i}`` by first
    occurrence **within its function scope** (numbering restarts at each
    function keyword — scope-local alpha-renaming, the standard type-2
    canonicalization in clone detection; file-global numbering would let a
    single dropped function renumber every identifier after it and collapse
    the Jaccard of an otherwise near-identical pair). A type-2 (consistently
    alpha-renamed) clone therefore produces the *identical* stream, and a
    type-3 edit perturbs only the edited function's shingles.
    Pure function — used by the Arrow UDF, the oracle fixture and tests.
    """
    out = []
    seen: dict[str, str] = {}
    for tok in _TOKEN_RE.findall(norm):
        if tok in _SCOPE_STARTERS:
            seen = {}
            out.append(tok)
        elif (tok[0].isalpha() or tok[0] == "_") and tok not in _KEYWORDS:
            mapped = seen.get(tok)
            if mapped is None:
                mapped = f"v{len(seen)}"
                seen[tok] = mapped
            out.append(mapped)
        else:
            out.append(tok)
    return out


def canonical_tokens_py(norm: str) -> str:
    """Space-joined :func:`canonical_token_list` (oracle CODE_CTOKS fixture
    + parity tests — the DuckDB oracle re-splits this on spaces)."""
    return " ".join(canonical_token_list(norm))


# ---------------------------------------------------------------------------
# gram hashing kernels — pure functions shared verbatim by the Spark feature
# UDF and the oracle fixture builder (codefixtures.py), so fixture parity
# holds by construction rather than by a cross-language twin.
# ---------------------------------------------------------------------------

_GPOLY = np.uint64(1000003)
_tok_hash_cache: dict[str, int] = {}


def _tok_hash(tok: str) -> int:
    """Deterministic 64-bit base hash of one token (md5-derived, cached —
    canonical streams have a tiny vocabulary; the cap guards real-code
    literal vocabularies from growing the cache without bound)."""
    h = _tok_hash_cache.get(tok)
    if h is None:
        if len(_tok_hash_cache) > 1_000_000:
            _tok_hash_cache.clear()
        h = int.from_bytes(
            hashlib.md5(b"tk|" + tok.encode()).digest()[:8], "little"
        )
        _tok_hash_cache[tok] = h
    return h


def _fmix64(h: np.ndarray) -> np.ndarray:
    """murmur3 64-bit finalizer — full-width avalanche over the raw Horner
    polynomial (public constants)."""
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xC4CEB9FE1A85EC53)
    h ^= h >> np.uint64(33)
    return h


def gram_hashes_py(tokens: list[str], n: int = TOKEN_GRAM) -> np.ndarray:
    """Ordered token-n-gram 64-bit hash sequence (uint64).

    Each token gets a cached md5 base hash; each window of ``n`` is Horner-
    folded (uint64 wrap intended) and finalized. A document shorter than
    ``n`` tokens contributes ONE gram — the fold of its whole stream — the
    same degenerate-input convention as the old md5 pipeline. Everything
    downstream (verify grams, winnow fingerprints, MinHash signatures)
    derives from this one sequence.
    """
    ids = np.fromiter(
        (_tok_hash(t) for t in tokens), dtype=np.uint64, count=len(tokens)
    )
    if ids.size >= n:
        win = np.lib.stride_tricks.sliding_window_view(ids, n)
        h = np.zeros(win.shape[0], dtype=np.uint64)
        for j in range(n):
            h = h * _GPOLY + win[:, j]
    else:
        # uint64 wraparound is the hash definition; numpy warns on the
        # scalar path only (the vectorized path above wraps silently)
        with np.errstate(over="ignore"):
            acc = np.uint64(0)
            for t in ids:
                acc = acc * _GPOLY + t
        h = np.array([acc], dtype=np.uint64)
    return _fmix64(h.copy())


def winnow_select_py(
    gseq: np.ndarray, window: int = WINNOW_WINDOW
) -> np.ndarray:
    """Winnowed fingerprint selection (MOSS): distinct minimum of each
    sliding ``window`` over the ordered gram sequence; fewer grams than a
    window select the single global min. Guarantees any shared token run of
    ``TOKEN_GRAM + window - 1`` tokens shares a fingerprint while keeping
    ~2/(window+1) of the grams — the density bound that makes a 10^12-file
    fingerprint table a small fraction of the corpus."""
    if gseq.size >= window:
        mins = np.lib.stride_tricks.sliding_window_view(gseq, window).min(
            axis=1
        )
    else:
        mins = gseq.min(keepdims=True)
    return np.unique(mins)


def code_feature_rows(
    norms: list[str],
) -> tuple[list[str], list[np.ndarray], list[np.ndarray], list[list[int]]]:
    """Batch kernel: normalized texts -> (ctoks, grams, wfps, bkeys).

    grams = sorted-distinct gram hashes (verify input), wfps = winnowed
    fingerprints, bkeys = banded MinHash LSH keys over the gram set at the
    contract config. One Python tokenization pass per row; all hashing /
    selection / signatures vectorized numpy. Shared verbatim with the
    oracle fixture builder.
    """
    a, b = _perm_params(MINHASH_PERMS, MINHASH_SEED)
    toks = [canonical_token_list(s if isinstance(s, str) else "") for s in norms]
    ctoks = [" ".join(t) for t in toks]
    gseqs = [gram_hashes_py(t) for t in toks]
    grams = [np.unique(g) for g in gseqs]
    wfps = [winnow_select_py(g) for g in gseqs]
    bkeys = band_keys_from_hash_arrays(grams, a, b, MINHASH_BANDS)
    return ctoks, grams, wfps, bkeys


def lexed_norm_rows(contents: list[str], langs: list[str]) -> list[str]:
    """Batch of string-literal-safe normalizations (kernels/codelex.py) —
    the production type-1 text. Shared by the Arrow UDF, the fixture
    builder and tests."""
    return [
        normalize_code_lexed(c if isinstance(c, str) else "", lg)
        for c, lg in zip(contents, langs)
    ]


def norm_hash_py(norm: str) -> str:
    """md5 hex of the normalized text (same value contract as JVM
    ``F.md5``: digest over UTF-8 bytes)."""
    return hashlib.md5(norm.encode("utf-8")).hexdigest()


_FEATURE_STRUCT = (
    "norm_hash string, ctoks string,"
    " grams array<long>, wfps array<long>, bkeys array<long>"
)


def _feature_udf():
    """Arrow-batched feature kernel (built lazily — pandas_udf registration
    needs an active session). Normalization (lexer state machine), token
    canonicalization and all hashing happen in this one pass."""

    @pandas_udf(_FEATURE_STRUCT)
    def feats(content: pd.Series, lang: pd.Series) -> pd.DataFrame:
        norms = lexed_norm_rows(content.tolist(), lang.tolist())
        ctoks, grams, wfps, bkeys = code_feature_rows(norms)
        return pd.DataFrame(
            {
                "norm_hash": [norm_hash_py(n) for n in norms],
                "ctoks": ctoks,
                "grams": [g.astype(np.int64) for g in grams],
                "wfps": [w.astype(np.int64) for w in wfps],
                "bkeys": bkeys,
            }
        )

    return feats


def code_features(files: DataFrame) -> DataFrame:
    """One scan: (rid, lang, sha, norm_hash, ctoks, grams, wfps, bkeys).

    ``sha`` is the input_hint per-row invariant (sha256 of raw content,
    JVM-side); ``norm_hash`` keys the type-1 tier (md5 of the lexer-grade
    string-literal-safe normalization — kernels/codelex.py);
    ``grams``/``wfps``/``bkeys`` feed the three similarity tiers — computed
    ONCE here so no tier ever re-tokenizes or re-hashes (the round-2
    verdict's compute-once discipline, M3 at code granularity).
    """
    return files.select(
        F.col("row_id").alias("rid"),
        "lang",
        F.sha2(F.col("content"), 256).alias("sha"),
        _feature_udf()(F.col("content"), F.col("lang")).alias("f"),
    ).select(
        "rid", "lang", "sha", "f.norm_hash",
        "f.ctoks", "f.grams", "f.wfps", "f.bkeys",
    )


def _star_edges(feat: DataFrame, key: str) -> DataFrame:
    """Rep-star edges (a=group min rid, b=member) for an exact-equality key.

    Two shuffles of slim rows, zero collect_list: groups of any size emit
    edges linear in membership — the C7-safe shape for mega-groups
    (boilerplate files, vendored licenses).
    """
    keyed = feat.select("lang", key, "rid")
    reps = keyed.groupBy("lang", key).agg(F.min("rid").alias("a"))
    return (
        keyed.join(reps, ["lang", key])
        .filter(F.col("rid") != F.col("a"))
        .select("a", F.col("rid").alias("b"))
    )


def minhash_candidate_pairs(
    feat: DataFrame,
    max_bucket: int = MAX_BUCKET,
    min_bands: int = MINHASH_MIN_BANDS,
) -> DataFrame:
    """Tier M candidates: the precomputed banded LSH keys (code_features),
    lang fused into the bucket key, one star-capped self-join (C5+C7),
    admitted at >= ``min_bands`` shared bands (collision counting — see the
    band-config note above; the count also replaces the pair-dedup
    distinct). Star-capped mega buckets emit only rep-star pairs, so a pair
    buried in >max_bucket-member buckets can undercount — those buckets are
    degenerate (boilerplate / near-empty token streams) and their members
    are connected by the exact/normalized tiers instead.

    The bucket key is ``xxhash64(lang, band_key)`` rather than the
    (lang-string, band-key) composite: the exploded key table is the
    job's largest shuffle (files x 48 bands rows), and dropping the
    string halves its row width — round-5 bandwidth diet. A 2^-64 key
    collision merges two unrelated buckets, which only adds candidates
    that the exact-Jaccard verify then rejects; admission semantics are
    otherwise identical."""
    keyed = feat.select(
        "rid", "lang", F.explode("bkeys").alias("bk")
    ).select("rid", F.xxhash64("lang", "bk").alias("bkey"))
    pairs = self_join_pairs(keyed, ["bkey"], max_bucket)
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared_bands"))
        .filter(F.col("shared_bands") >= min_bands)
        .select("a", "b")
    )


def jaccard_verified_pairs(
    feat: DataFrame,
    cand: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact token-4-gram Jaccard >= threshold over candidate pairs — pure
    codegen verify (array_intersect/array_union over int64 gram hashes),
    the narrow-verify shape: candidates join only (rid, grams)."""
    g = feat.select("rid", "grams")
    a = g.select(F.col("rid").alias("a"), F.col("grams").alias("a_g"))
    b = g.select(F.col("rid").alias("b"), F.col("grams").alias("b_g"))
    # |A u B| = |A| + |B| - |A n B| — one array op per pair, not two (the
    # arrays are already distinct sets by construction)
    i = F.size(F.array_intersect("a_g", "b_g"))
    jac = i / (F.size("a_g") + F.size("b_g") - i)
    return (
        cand.join(a, "a").join(b, "b")
        .withColumn("jac", F.round(jac, 4))
        .filter(F.col("jac") >= threshold)
        .select("a", "b", "jac")
    )


def winnow_candidate_pairs(
    feat: DataFrame,
    max_bucket: int = MAX_BUCKET,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Tier W candidates: >= ``min_shared`` shared winnowed fingerprints
    (precomputed in code_features), same star-capped self-join and the
    same lang-fused long key as the band tier (bandwidth diet — the fp
    explode is the job's second-largest shuffle)."""
    keyed = feat.select(
        "rid", "lang", F.explode("wfps").alias("f")
    ).select("rid", F.xxhash64("lang", "f").alias("fp"))
    return (
        self_join_pairs(keyed, ["fp"], max_bucket)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select("a", "b")
    )


def containment_verified_pairs(
    feat: DataFrame,
    max_bucket: int = MAX_BUCKET,
    min_shared: int = WINNOW_MIN_SHARED,
    threshold: float = CONTAINMENT_THRESHOLD,
) -> DataFrame:
    """Tier W: winnowed-fingerprint candidates verified by token-gram
    containment |A∩B| / min(|A|,|B|) >= threshold.

    The containment coefficient is the right statistic for embedded copies:
    a file pasted wholesale into one twice its size has containment ~1.0
    while its Jaccard is ~0.5 and falling with the host's growth.
    """
    cand = winnow_candidate_pairs(feat, max_bucket, min_shared)
    g = feat.select("rid", "grams")
    a = g.select(F.col("rid").alias("a"), F.col("grams").alias("a_g"))
    b = g.select(F.col("rid").alias("b"), F.col("grams").alias("b_g"))
    cont = F.size(F.array_intersect("a_g", "b_g")) / F.least(
        F.size("a_g"), F.size("b_g")
    )
    return (
        cand.join(a, "a").join(b, "b")
        .withColumn("containment", F.round(cont, 4))
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "containment")
    )


def code_dup_edges(feat: DataFrame) -> DataFrame:
    """All-tier duplicate edges (a < b), deduplicated across tiers (C5).

    The two similarity tiers verify through ONE shared gram join: their
    candidate sets are unioned with tier flags, merged per pair, joined
    against (rid, grams) once, and filtered per-tier — each tier's
    admission and threshold are byte-identical to the standalone
    :func:`jaccard_verified_pairs` / :func:`containment_verified_pairs`
    (which the oracle queries still exercise), but the ~4 KB-per-row gram
    payload crosses the shuffle once instead of twice — the single
    largest bandwidth term in the 6.1M-file profile (round-5)."""
    e = _star_edges(feat, "sha")
    n = _star_edges(feat, "norm_hash")
    cand = (
        minhash_candidate_pairs(feat)
        .withColumn("tm", F.lit(True)).withColumn("tw", F.lit(False))
        .unionByName(
            winnow_candidate_pairs(feat)
            .withColumn("tm", F.lit(False)).withColumn("tw", F.lit(True))
        )
        .groupBy("a", "b")
        .agg(F.max("tm").alias("tm"), F.max("tw").alias("tw"))
        # pin the gram-verify join at cluster parallelism: AQE coalesces
        # the slim candidate shuffle by BYTES, but verify cost is per-row
        # CPU over ~4 KB gram arrays — small corpora otherwise verify in
        # one task (same fix as textops.near_dup_pairs_minhash; AQE leaves
        # explicit partition counts alone, and at scale this count is the
        # pair table's natural parallelism anyway)
        .repartition(feat.sparkSession.sparkContext.defaultParallelism)
    )
    g = feat.select("rid", "grams")
    a = g.select(F.col("rid").alias("a"), F.col("grams").alias("a_g"))
    b = g.select(F.col("rid").alias("b"), F.col("grams").alias("b_g"))
    i = F.size(F.array_intersect("a_g", "b_g"))
    jac = i / (F.size("a_g") + F.size("b_g") - i)
    cont = i / F.least(F.size("a_g"), F.size("b_g"))
    mw = (
        cand.join(a, "a").join(b, "b")
        .filter(
            (F.col("tm") & (F.round(jac, 4) >= F.lit(JACCARD_THRESHOLD)))
            | (F.col("tw") & (F.round(cont, 4) >= F.lit(CONTAINMENT_THRESHOLD)))
        )
        .select("a", "b")
    )
    return (
        e.unionByName(n).unionByName(mw)
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )


def clusters_from_edges(feat: DataFrame, edges: DataFrame) -> DataFrame:
    """(row_id, cluster_id, cluster_size) from features + verified edges.

    cluster_id = min row_id of the component (C6: the citation arm's
    level-wise union-find, operators/components.py);
    singletons pass through with their own id (M11). Split out so the
    checkpointed pipeline (plans/code_pipeline.py) can resume from a
    persisted edge stage without re-running the tiers.
    """
    rids = feat.select("rid")
    cc = assign_clusters(rids, edges)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "cluster_id")
        .select(F.col("rid").alias("row_id"), "cluster_id", "cluster_size")
    )


def code_dup_clusters(
    files: DataFrame, materialize: str = "parquet"
) -> DataFrame:
    """(row_id, cluster_id, cluster_size) over the input_hint table.

    Features fan out six ways (two identity tiers, band/fingerprint
    explodes, two verify sides) but no consumer reads more than two of the
    fat columns, so the default materialization is a columnar parquet spill
    (plans/spill.py) — ``localCheckpoint`` would make every tier scan
    deserialize every row's full 4 KB gram payload (measured 2-3x slower on
    the slim tiers).
    """
    feat = code_features(files)
    if materialize == "parquet":
        from biblib_spark.plans.spill import spill_to_parquet

        # ctoks (the canonical token text, ~content-sized) exists for the
        # oracle fixtures and the resumable pipeline's feature artifact —
        # no clustering tier reads it, and parquet spill is a WRITE of every
        # column (pruning only helps readers), so it would be the single
        # largest core-count-independent I/O term in the job for nothing
        feat, _ = spill_to_parquet(feat.drop("ctoks"), "code-features")
    else:
        feat = feat.localCheckpoint(eager=True)
    return clusters_from_edges(feat, code_dup_edges(feat))
