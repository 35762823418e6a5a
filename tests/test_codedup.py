"""Source-code clone pipeline (codecorpus + operators/codedup).

Behavior spec, not reference parity: biblib has no code-clone counterpart —
the north_rule mandates this arm over the input_hint table
``(repo, path, commit, lang, content)``. The recall gate mirrors the
citation harness discipline: planted clone pairs must be recovered at
recall >= 0.99 (BASELINE.json north_rule) — the corpus is constructed so
the correct figure is exactly 1.0, with precision 1.0 against the planted
ground truth.
"""

from __future__ import annotations

import hashlib
import itertools
import collections

import pytest
from pyspark.sql import functions as F

from biblib_spark.codecorpus import (
    SLOTS_PER_ORIGIN,
    clone_text,
    make_code_corpus,
    n_clones,
    truth_label,
)
from biblib_spark.operators.codedup import (
    canonical_tokens_py,
    code_dup_clusters,
    code_features,
    containment_verified_pairs,
    jaccard_verified_pairs,
    minhash_candidate_pairs,
    normalize_code_col,
    normalize_code_py,
)

SEED = 11


# ---------------------------------------------------------------- corpus


def test_corpus_shape_and_determinism(spark):
    df = make_code_corpus(spark, 40, seed=SEED)
    assert df.columns == ["row_id", "repo", "path", "commit", "lang", "content"]
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in make_code_corpus(spark, 40, seed=SEED).collect())
    assert a == b
    langs = {r[4] for r in a}
    assert langs <= {"python", "java", "javascript", "go"}
    assert len(langs) >= 3


def test_clone_types_pure_python():
    # find a non-boilerplate origin with 4 clones whose k1 is a true type-1
    o = next(
        o for o in range(1000)
        if n_clones(o, SEED) == 4 and o % 101 != 7 and o % 3 != 0 and o % 5 != 0
    )
    texts = {k: clone_text(o, k, SEED)[1] for k in range(4)}
    # type-1: byte-different, normalize-identical
    assert texts[0] != texts[1]
    assert normalize_code_py(texts[0]) == normalize_code_py(texts[1])
    # type-2: normalize-different, canonical-tokens-identical
    assert normalize_code_py(texts[0]) != normalize_code_py(texts[2])
    c0 = canonical_tokens_py(normalize_code_py(texts[0]))
    c2 = canonical_tokens_py(normalize_code_py(texts[2]))
    assert c0 == c2
    # type-3: canonical-tokens near but not equal
    c3 = canonical_tokens_py(normalize_code_py(texts[3]))
    assert c3 != c0


def test_type0_exact_copy():
    o = next(
        o for o in range(1000)
        if o % 3 == 0 and o % 101 != 7 and n_clones(o, SEED) >= 2
    )
    assert clone_text(o, 0, SEED)[1] == clone_text(o, 1, SEED)[1]


def test_containment_clone_embeds_origin():
    o = next(
        o for o in range(1000)
        if o % 5 == 0 and o % 101 != 7 and n_clones(o, SEED) == 4
    )
    c0 = canonical_tokens_py(normalize_code_py(clone_text(o, 0, SEED)[1]))
    c3 = canonical_tokens_py(normalize_code_py(clone_text(o, 3, SEED)[1]))
    # the containment clone is strictly larger and carries the origin's
    # token 4-grams nearly wholesale
    assert len(c3) > len(c0) * 1.5
    w0 = c0.split(" ")
    w3 = c3.split(" ")
    g0 = {" ".join(w0[i : i + 4]) for i in range(len(w0) - 3)}
    g3 = {" ".join(w3[i : i + 4]) for i in range(len(w3) - 3)}
    assert len(g0 & g3) / len(g0) >= 0.9


def test_boilerplate_origins_share_bytes():
    emitters = [o for o in range(7, 1500, 101)]
    by_lang = collections.defaultdict(set)
    for o in emitters:
        lang, content = clone_text(o, 0, SEED)
        by_lang[lang].add(content)
    for lang, contents in by_lang.items():
        assert len(contents) == 1  # all emitters of a lang share bytes


# ---------------------------------------------------------------- kernels


def test_normalize_parity_jvm_vs_python(spark):
    files = make_code_corpus(spark, 60, seed=SEED)
    rows = files.select(
        "content", normalize_code_col(F.col("content")).alias("jvm")
    ).collect()
    for r in rows:
        assert r.jvm == normalize_code_py(r.content)


def test_sha_invariant_matches_hashlib(spark):
    files = make_code_corpus(spark, 20, seed=SEED)
    rows = code_features(files).join(
        files.select(F.col("row_id").alias("rid"), "content"), "rid"
    ).collect()
    for r in rows:
        assert r.sha == hashlib.sha256(r.content.encode()).hexdigest()


def test_scope_local_canonicalization():
    # dropping the first function must not renumber the second's identifiers
    two = "def alpha(x):\n    y = x + 1\n    return y\n\ndef beta(q):\n    r = q * 2\n    return r\n"
    one = "def beta(q):\n    r = q * 2\n    return r\n"
    c_two = canonical_tokens_py(normalize_code_py(two))
    c_one = canonical_tokens_py(normalize_code_py(one))
    assert c_one in c_two
    # alpha-rename invariance
    import re

    renamed = one
    for old, new in [("beta", "gamma"), ("q", "zz"), ("r", "w")]:
        renamed = re.sub(rf"\b{old}\b", new, renamed)
    assert canonical_tokens_py(normalize_code_py(renamed)) == c_one


# ---------------------------------------------------------------- tiers


@pytest.fixture(scope="module")
def feat(spark):
    files = make_code_corpus(spark, 250, seed=SEED)
    return code_features(files).localCheckpoint(eager=True)


def test_minhash_tier_catches_type2_and_type3(feat, spark):
    cand = minhash_candidate_pairs(feat)
    pairs = {(r.a, r.b) for r in jaccard_verified_pairs(feat, cand).collect()}
    want_t2 = []
    want_t3 = []
    for o in range(250):
        if o % 101 == 7:
            continue
        nc = n_clones(o, SEED)
        base = o * SLOTS_PER_ORIGIN
        if nc >= 3:
            want_t2.append((base, base + 2))
        if nc >= 4 and o % 5 != 0:
            want_t3.append((base, base + 3))
    assert want_t2 and want_t3
    for p in want_t2:
        assert p in pairs, f"type-2 pair {p} missed by minhash tier"
    for p in want_t3:
        assert p in pairs, f"type-3 pair {p} missed by minhash tier"


def test_containment_tier_catches_embedded_copy(feat, spark):
    pairs = {(r.a, r.b) for r in containment_verified_pairs(feat).collect()}
    want = []
    for o in range(250):
        if o % 101 == 7 or o % 5 != 0:
            continue
        if n_clones(o, SEED) >= 4:
            want.append((o * SLOTS_PER_ORIGIN, o * SLOTS_PER_ORIGIN + 3))
    assert want
    for p in want:
        assert p in pairs, f"containment pair {p} missed by winnow tier"


# ------------------------------------------------------------ end-to-end


def test_cluster_recall_and_precision(spark):
    """The north_rule gate: dup-pair recall >= 0.99 (measured 1.0) with
    precision 1.0 against the planted ground truth, boilerplate included."""
    files = make_code_corpus(spark, 250, seed=SEED)
    rows = code_dup_clusters(files).collect()
    truth = collections.defaultdict(list)
    pred = collections.defaultdict(list)
    for r in rows:
        truth[truth_label(r.row_id, SEED)].append(r.row_id)
        pred[r.cluster_id].append(r.row_id)
    tp = {
        p
        for ids in truth.values()
        for p in itertools.combinations(sorted(ids), 2)
    }
    pp = {
        p
        for ids in pred.values()
        for p in itertools.combinations(sorted(ids), 2)
    }
    assert tp
    recall = len(tp & pp) / len(tp)
    precision = len(tp & pp) / len(pp)
    assert recall >= 0.99, f"recall {recall:.4f}"
    assert precision >= 0.99, f"precision {precision:.4f}"
    # cluster ids follow the C6 min-label convention
    for cid, ids in pred.items():
        assert cid == min(ids)


def test_cluster_sizes_consistent(spark):
    files = make_code_corpus(spark, 80, seed=SEED)
    rows = code_dup_clusters(files).collect()
    by_cluster = collections.Counter(r.cluster_id for r in rows)
    for r in rows:
        assert r.cluster_size == by_cluster[r.cluster_id]
    assert len(rows) == files.count()  # singleton passthrough (M11)


# ----------------------------------------------------- checkpointed pipeline


def test_code_pipeline_resume_and_parity(spark):
    """C8 on the code arm: staged output == direct operator output; a full
    resume touches no marker; deleting one stage rebuilds only it."""
    import os
    import shutil
    import tempfile

    from biblib_spark.plans.checkpoint import read_marker
    from biblib_spark.plans.code_pipeline import run_code_pipeline

    work = tempfile.mkdtemp(prefix="code_pipeline_")
    try:
        files = make_code_corpus(spark, 120, seed=SEED)
        staged = {
            (r.row_id, r.cluster_id, r.cluster_size)
            for r in run_code_pipeline(spark, files, work).collect()
        }
        direct = {
            (r.row_id, r.cluster_id, r.cluster_size)
            for r in code_dup_clusters(files).collect()
        }
        assert staged == direct and len(staged) > 0

        stages = ("features", "edges", "clusters")
        for stage in stages:
            marker = read_marker(os.path.join(work, stage))
            assert marker["rows"] > 0
            assert marker["lineage"]["input_rows"] == files.count()
            assert marker["partitions"]  # per-partition lineage present

        # full resume: markers untouched (structural skip proof, not timing)
        mtimes = {
            s: os.path.getmtime(os.path.join(work, s, "_STAGE_OK"))
            for s in stages
        }
        again = {
            (r.row_id, r.cluster_id, r.cluster_size)
            for r in run_code_pipeline(spark, files, work).collect()
        }
        assert again == staged
        for s, mt in mtimes.items():
            assert os.path.getmtime(os.path.join(work, s, "_STAGE_OK")) == mt, (
                f"stage {s} was rebuilt on resume"
            )

        # partial resume: only the deleted stage rebuilds (features reused)
        shutil.rmtree(os.path.join(work, "clusters"))
        third = {
            (r.row_id, r.cluster_id, r.cluster_size)
            for r in run_code_pipeline(spark, files, work).collect()
        }
        assert third == staged
        for s in ("features", "edges"):
            assert os.path.getmtime(os.path.join(work, s, "_STAGE_OK")) == mtimes[s]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_code_pipeline_changed_input_rebuilds(spark):
    """Resuming a work_dir against different input must rebuild, not return
    the stale stage (marker lineage comparison)."""
    import os
    import shutil
    import tempfile

    from biblib_spark.plans.checkpoint import read_marker
    from biblib_spark.plans.code_pipeline import run_code_pipeline

    work = tempfile.mkdtemp(prefix="code_relineage_")
    try:
        n1 = run_code_pipeline(
            spark, make_code_corpus(spark, 60, seed=1), work
        ).count()
        n2 = run_code_pipeline(
            spark, make_code_corpus(spark, 90, seed=2), work
        ).count()
        assert n2 != n1  # rebuilt from the new corpus, not resumed
        marker = read_marker(os.path.join(work, "features"))
        assert marker["lineage"]["input_rows"] == n2

        # same row count each time: a duplicated-file swap (an xor of content
        # hashes cancels both to 0) and a row_id renumbering (row_id
        # unhashed) must still rebuild
        from biblib_spark.schema import CORPUS_SCHEMA

        a = "def area(r):\n    return 3.14159 * r * r\n"
        b = "def greet(name):\n    print('hello', name)\n"

        def files(rows):
            return spark.createDataFrame(
                [(rid, "repo", f"f{rid}.py", "c0", "python", c) for rid, c in rows],
                CORPUS_SCHEMA,
            )

        for rows in ([(0, a), (1, a)], [(0, b), (1, b)]):
            run_code_pipeline(spark, files(rows), work).count()
            shas = spark.read.parquet(os.path.join(work, "features")).select("sha")
            assert {r.sha for r in shas.collect()} == {
                hashlib.sha256(rows[0][1].encode()).hexdigest()
            }
        for rows in ([(0, a), (1, b)], [(7, a), (3, b)]):
            got = run_code_pipeline(spark, files(rows), work).collect()
            assert {r.row_id for r in got} == {rid for rid, _c in rows}
    finally:
        shutil.rmtree(work, ignore_errors=True)
