"""Document-level text operations for large-scale training-data pipelines.

Token/quality stats, n-gram Jaccard and SimHash near-dup, document
fingerprinting, language-ID heuristic — all over a generic
``documents(doc_id, text, ...)`` table. Everything in the pipeline path is
pure ``pyspark.sql.functions`` (JVM-side, whole-stage codegen) — the only
Python left is the MinHash band-key and SimHash pandas UDFs (Arrow-batched
numpy); the oracle equivalents live in __spark_entry__.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from biblib_spark.functions.minhash import make_band_keys_udf
from biblib_spark.operators.candidates import self_join_pairs


def norm_text_col(text: Column) -> Column:
    """Lowercase + strip non-alphanumerics (ASCII) — SQL-expressible twin of
    the title normalization used for candidate keys."""
    return F.regexp_replace(F.lower(text), "[^a-z0-9]", "")


def _fan_out(docs: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before a heavy per-row UDF.

    A small parquet table arrives in a handful of input splits, which caps
    the Python stage at that parallelism (measured: the 128-perm MinHash
    UDF over 5k docs ran ~single-core, 6.2 s of a 6.3 s query). Repartition
    ONLY when the scan has fewer partitions than the cluster has slots —
    at warehouse scale inputs carry plenty of splits and this is a no-op,
    so no payload-wide shuffle is ever added where it matters (guide §2.5
    input-skew rule)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        return docs.repartition(par)
    return docs


def token_count_col(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+"))


def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-document token/char statistics + a simple quality score."""
    tokens = token_count_col(F.col("text"))
    chars_no_space = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    the_count = (
        (F.length(F.col("text")) - F.length(F.replace(F.col("text"), F.lit(" the "))))
        / F.lit(5)
    ).cast("long")
    return docs.select(
        "doc_id",
        tokens.alias("token_count"),
        chars_no_space.alias("char_count"),
        the_count.alias("the_count"),
        F.round(chars_no_space / tokens, 4).alias("avg_token_len"),
    )


def near_dup_pairs_simhash(
    docs: DataFrame,
    k: int = 4,
    max_hamming: int = 6,
    max_bucket: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Document-level SimHash near-dup pairs (a, b, hamming).

    One Python pass computes the 64-bit SimHash per doc (vectorized shingle
    kernel); everything after is JVM: candidates = equi-join on the four
    16-bit quarter keys (any equal quarter admits the pair — covers Hamming
    <= 3 with certainty, more distant pairs probabilistically), star-capped
    like every bucket join (C7), verified by ``bit_count(xor) <= max_hamming``
    inside codegen. Scales exactly like the MinHash tier: one shuffle on the
    quarter keys, no all-pairs anywhere.
    """
    from biblib_spark.functions.simhash import simhash64_batch

    @pandas_udf(LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash64_batch(texts.tolist(), k))

    with_sh = _fan_out(docs).select(
        F.col("doc_id").alias("rid"), _sh(F.col(text_col)).alias("sh")
    ).localCheckpoint(eager=True)

    quarters = [
        F.lit(q << 16).cast("long").bitwiseOR(
            F.shiftrightunsigned("sh", 16 * q).bitwiseAND(F.lit(0xFFFF))
        )
        for q in range(4)
    ]
    keyed = with_sh.select(
        "rid", F.explode(F.array(*quarters)).alias("bkey")
    )
    pairs = self_join_pairs(keyed, ["bkey"], max_bucket).distinct()
    a = with_sh.select(F.col("rid").alias("a"), F.col("sh").alias("a_sh"))
    b = with_sh.select(F.col("rid").alias("b"), F.col("sh").alias("b_sh"))
    hamming = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh")))
    return (
        pairs.join(a, "a")
        .join(b, "b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


#: tiny demonstration stopword list for quality signals (a real pipeline
#: ships per-language lists; the MECHANISM — JVM array ops over the token
#: split, no Python — is what scales)
QUALITY_STOPWORDS = ("the", "a", "of", "and", "in")


def quality_signals(
    docs: DataFrame,
    min_tokens: int = 30,
    min_stopword_ratio: float = 0.03,
) -> DataFrame:
    """Per-document quality gate for training-data filtering: token count,
    mean token length, stopword ratio, and the resulting keep/drop decision.
    Entirely whole-stage-codegen expressions — at 100 TB this is a single
    scan with no shuffle and no Python."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    stop_lits = F.array(*[F.lit(s) for s in QUALITY_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_lits, t)))
    chars_no_space = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    stop_ratio = F.round(n_stop / n, 4)
    return docs.select(
        "doc_id",
        n.cast("long").alias("token_count"),
        F.round(chars_no_space / n, 4).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        (
            (n >= min_tokens) & (stop_ratio >= min_stopword_ratio)
        ).cast("int").alias("keep"),
    )


def repetition_signals(docs: DataFrame, max_top_ratio: float = 0.2) -> DataFrame:
    """Gopher-style repetition gate: fraction of tokens taken by the single
    most frequent token, plus the distinct-token ratio. Boilerplate and
    template spam score high top-token ratios. Pure JVM: token histogram per
    row via aggregate() over the split — no shuffle, no Python."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    # top-token count = longest equal run of the SORTED tokens — O(n log n)
    # per row (a map-fold histogram would copy the accumulator per token,
    # O(n * distinct) allocation)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top = F.aggregate(F.array_sort(toks), init, _step, lambda acc: acc["best"])
    n_distinct = F.size(F.array_distinct(toks))
    top_ratio = F.round(top / n, 4)
    return docs.select(
        "doc_id",
        n.cast("long").alias("token_count"),
        n_distinct.cast("long").alias("distinct_tokens"),
        top_ratio.alias("top_token_ratio"),
        (top_ratio <= max_top_ratio).cast("int").alias("keep"),
    )


def token_frequencies(docs: DataFrame, k: int = 50) -> DataFrame:
    """Corpus-level top-k token frequencies (vocabulary head): explode the
    whitespace split, hash-aggregate with map-side partials, parallel top-k
    (no global window)."""
    from biblib_spark.operators.topk import topk_ranked

    counts = (
        docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return topk_ranked(counts, [("n", "desc"), ("token", "asc")], k)


def lang_summary(docs: DataFrame) -> DataFrame:
    """Per-language corpus summary (token counting at corpus granularity)."""
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count_col(F.col("text"))).alias("total_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


def elect_lang_representative(docs: DataFrame) -> DataFrame:
    """M10-shaped election in pure SQL: one representative doc per language
    (longest text, doc_id tie-break)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("doc_id").alias("rep_doc_id"), "n_chars")
    )


def _gram_set_col(nt: str) -> Column:
    """Distinct char-3-gram array of column ``nt``, entirely JVM-side.
    Shingling rule: a string of length >= 3 yields every 3-char window; a
    shorter non-empty string is one gram on its own; empty or NULL yields an
    empty array."""
    return F.expr(
        f"CASE WHEN length({nt}) >= 3 THEN"
        f" array_distinct(transform(sequence(1, length({nt}) - 2),"
        f" i -> substring({nt}, i, 3)))"
        f" WHEN length({nt}) > 0 THEN array({nt})"
        " ELSE array() END"
    )


def near_dup_pairs_minhash(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_k: int = 5,
    num_perm: int = 128,
    bands: int = 32,
    seed: int = 97,
    max_bucket: int = 64,
) -> DataFrame:
    """MinHash-LSH candidates + exact n-gram Jaccard verify (>= threshold).

    The classic shingle -> minhash -> band -> bucket-join near-dup pipeline;
    returns (a, b, jaccard) with a < b (doc ids).
    """
    lsh = make_band_keys_udf(shingle_k, num_perm, bands, seed)
    feat = (
        _fan_out(docs).select(
            F.col("doc_id").alias("rid"),
            norm_text_col(F.col("text")).alias("norm_text"),
        )
        .withColumn("lsh_keys", lsh("norm_text"))
        .withColumn("grams", _gram_set_col("norm_text"))
        .drop("norm_text")
        # materialized ONCE: feat fans out three ways (band keys + both
        # verify sides) and each branch would otherwise re-run the
        # normalize + 128-perm MinHash UDF + gram build per consumer —
        # the r06 before-plan shows 4 ArrowEvalPython nodes for one UDF
        # (plans/r06/near_dup_minhash_before.txt); after: 1
        .localCheckpoint(eager=True)
    )
    keyed = feat.select(F.explode("lsh_keys").alias("lsh_key"), "rid")
    # explicit repartition before the gram verify: AQE coalesces the tiny
    # pair shuffle to ONE partition by byte size, but the verify cost is
    # per-row CPU (array_intersect over ~hundreds-of-element gram sets) —
    # the r06 profile showed a single 4.1 s task doing the whole verify.
    # AQE leaves user-specified partition counts alone, so this pins the
    # verify at cluster parallelism; at warehouse scale the pair table is
    # large and the same count is simply its natural parallelism.
    par = docs.sparkSession.sparkContext.defaultParallelism
    pairs = (
        self_join_pairs(keyed, ["lsh_key"], max_bucket)
        .distinct()
        .repartition(par)
    )
    fa = feat.select(F.col("rid").alias("a_rid"), F.col("grams").alias("a_grams"))
    fb = feat.select(F.col("rid").alias("b_rid"), F.col("grams").alias("b_grams"))
    # verify is pure codegen: set intersect/union over the precomputed gram
    # arrays
    jac = F.size(F.array_intersect("a_grams", "b_grams")) / F.size(
        F.array_union("a_grams", "b_grams")
    )
    j = (
        pairs.join(fa, pairs["a"] == fa["a_rid"])
        .join(fb, pairs["b"] == fb["b_rid"])
        .withColumn("jaccard", jac)
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "a", "b", F.round("jaccard", 4).alias("jaccard")
    )


def fingerprint_col(text: Column, chunk: int = 64) -> Column:
    """Chunked document fingerprint, entirely JVM-side: md5 per 64-char
    chunk, md5 over the ordered concatenation. Chunk structure (rather than
    one md5 of the whole doc) is what a partial-match/winnowing extension
    indexes on; the fold here keeps the driver-oracle contract simple."""
    n_chunks = F.greatest(F.ceil(F.length(text) / chunk), F.lit(1)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.md5(F.substring(text, i * chunk + 1, chunk)),
    )
    return F.md5(F.array_join(chunks, ""))


def _marker_count(text: Column, marker: str) -> Column:
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(marker))))
        / F.lit(len(marker))
    ).cast("long")


def lang_id_heuristic(docs: DataFrame) -> DataFrame:
    """Stopword-marker language ID (n-gram heuristic, SQL-expressible).

    Counts per-language function-word markers and predicts the argmax —
    the shape of a real fastText-style scorer with the model swapped for
    three countable features, so the oracle can replay it exactly.
    """
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    en = _marker_count(padded, " the ")
    es = _marker_count(padded, " la ")
    de = _marker_count(padded, " der ")
    pred = (
        F.when((en >= es) & (en >= de), F.lit("en"))
        .when(es >= de, F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return docs.select(
        "doc_id",
        en.alias("en_markers"),
        es.alias("es_markers"),
        de.alias("de_markers"),
        pred.alias("predicted_lang"),
    )
