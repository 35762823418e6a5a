"""End-to-end pipeline: checkpoint/resume (C8), quarantine, fused-path parity."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from biblib_spark.corpus import make_corpus
from biblib_spark.plans.checkpoint import StageIntegrityError, read_marker
from biblib_spark.plans.pipeline import run_pipeline


def _cluster_rows(df):
    return {
        (r.rid, r.cluster_id, r.is_unique, r.source)
        for r in df.select("rid", "cluster_id", "is_unique", "source").collect()
    }


def test_pipeline_resume(spark):
    work = tempfile.mkdtemp(prefix="pipeline_test_")
    try:
        corpus = make_corpus(spark, 150, seed=11)
        n1 = run_pipeline(spark, corpus, work).count()
        assert n1 > 0
        for stage in ("features", "clusters"):
            marker = read_marker(os.path.join(work, stage))
            assert "rows" in marker and "lineage" in marker
            assert marker["lineage"]["input_rows"] == 150

        # full resume: all stages skipped (markers untouched), same rows.
        # Structural check, not wall-clock — a timing ratio flakes under
        # suite-wide load; an untouched marker mtime proves the stage was
        # skipped regardless of scheduler noise.
        mtimes = {
            stage: os.path.getmtime(os.path.join(work, stage, "_STAGE_OK"))
            for stage in ("features", "clusters")
        }
        n2 = run_pipeline(spark, corpus, work).count()
        assert n2 == n1
        for stage, mt in mtimes.items():
            assert (
                os.path.getmtime(os.path.join(work, stage, "_STAGE_OK")) == mt
            ), f"stage {stage} was rebuilt on resume"

        # partial resume: only the deleted stage rebuilds, reusing features
        shutil.rmtree(os.path.join(work, "clusters"))
        n3 = run_pipeline(spark, corpus, work).count()
        assert n3 == n1

        # every features column is hashed: a swapped file whose norm_title
        # differs (same row count) fails the resume check
        parts = glob.glob(os.path.join(work, "features", "part-*.parquet"))
        part = sorted(parts)[0]
        table = pq.read_table(part)
        i = table.schema.get_field_index("norm_title")
        titles = pa.array([f"tampered {t}" for t in table.column(i).to_pylist()])
        pq.write_table(table.set_column(i, table.field(i), titles), part)
        crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        with pytest.raises(StageIntegrityError):
            run_pipeline(spark, corpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_parse_with_diagnostics_one_pass(spark):
    """Reference parse_with_diagnostics (src/diagnostics.rs:111-119): one
    parse emits citations AND quarantine rows; the split views agree with the
    dedicated single-purpose scans."""
    from pyspark.sql import functions as F

    from biblib_spark.sources.parse import (
        parse_corpus,
        parse_corpus_quarantine,
        parse_with_diagnostics,
        split_diagnostics,
    )

    good = make_corpus(spark, 40, seed=3)
    bad = good.limit(5).withColumn(
        "content", F.lit("<<<not a citation payload>>>")
    ).withColumn("row_id", F.col("row_id") + 10_000)
    corpus = good.unionByName(bad)

    diag = parse_with_diagnostics(corpus).localCheckpoint(eager=True)
    parsed, quarantine = split_diagnostics(diag)

    kinds = {r["kind"]: r["n"] for r in diag.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert kinds.get("citation", 0) > 0 and kinds.get("error", 0) == 5

    assert parsed.count() == parse_corpus(corpus).count()
    q_direct = parse_corpus_quarantine(corpus)
    assert quarantine.count() == q_direct.count() == 5
    assert quarantine.columns == q_direct.columns
    assert set(
        r.error_kind for r in quarantine.select("error_kind").collect()
    ) == {"unknown_format"}


def test_pipeline_source_register(spark):
    """M12 through the checkpointed pipeline: --source-col joins the
    per-payload register back into election."""
    from pyspark.sql import functions as F

    from biblib_spark.operators.dedupe import DedupConfig

    work = tempfile.mkdtemp(prefix="pipeline_src_")
    try:
        corpus = make_corpus(spark, 80, seed=13).withColumn(
            "feed", F.concat(F.lit("reg-"), (F.col("row_id") % 2).cast("string"))
        )
        cfg = DedupConfig(source_preferences=["reg-1", "reg-0"])
        out = run_pipeline(spark, corpus, work, cfg, source_col="feed")
        assert set(
            r.source for r in out.select("source").distinct().collect()
        ) == {"reg-0", "reg-1"}
        winners = (
            out.groupBy("cluster_id")
            .agg(
                F.collect_set("source").alias("sources"),
                F.max(F.when(F.col("is_unique"), F.col("source"))).alias("w"),
            )
            .filter(F.array_contains("sources", "reg-1"))
        )
        assert winners.count() > 0
        assert winners.filter(F.col("w") != "reg-1").count() == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_resume_with_changed_input_rebuilds(spark):
    """C8: a work_dir resumed against DIFFERENT input must rebuild, not
    silently return the stale stage (marker lineage comparison)."""
    work = tempfile.mkdtemp(prefix="pipeline_relineage_")
    try:
        n1 = run_pipeline(spark, make_corpus(spark, 60, seed=1), work).count()
        n2 = run_pipeline(spark, make_corpus(spark, 90, seed=2), work).count()
        assert n2 != n1  # rebuilt from the new corpus, not resumed
        marker = read_marker(os.path.join(work, "features"))
        assert marker["lineage"]["input_rows"] == 90
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_resume_with_changed_config_rebuilds(spark):
    """C8: a work_dir resumed with a DIFFERENT DedupConfig must rebuild, not
    return the clusters elected under the first run's preferences."""
    from pyspark.sql import functions as F

    from biblib_spark.operators.dedupe import DedupConfig, dedupe_corpus

    work = tempfile.mkdtemp(prefix="pipeline_recfg_")
    try:
        corpus = make_corpus(spark, 80, seed=13).withColumn(
            "feed", F.concat(F.lit("reg-"), (F.col("row_id") % 2).cast("string"))
        )
        first = DedupConfig(source_preferences=["reg-0", "reg-1"])
        run_pipeline(spark, corpus, work, first, source_col="feed").count()
        second = DedupConfig(source_preferences=["reg-1", "reg-0"])
        got = run_pipeline(spark, corpus, work, second, source_col="feed")
        fresh = dedupe_corpus(corpus, second, source_col="feed")
        assert _cluster_rows(got) == _cluster_rows(fresh)
        marker = read_marker(os.path.join(work, "clusters"))
        assert marker["lineage"]["cfg"]["source_preferences"] == ["reg-1", "reg-0"]
        assert marker["lineage"]["source_col"] == "feed"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_resume_detects_tampered_partition(spark):
    """C8: per-partition lineage counters catch a corrupted/replaced file."""
    from biblib_spark.plans.checkpoint import run_stage, verify_stage

    work = tempfile.mkdtemp(prefix="stage_tamper_")
    path = os.path.join(work, "stage")
    try:
        df = spark.range(0, 1000, numPartitions=4).withColumnRenamed("id", "v")
        run_stage(spark, path, lambda: df)
        marker = read_marker(path)
        assert len(marker["partitions"]) >= 2
        assert marker["rows"] == 1000
        assert verify_stage(spark, path) == []

        # tamper: replace one data file with a different one
        files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
        spark.range(0, 7).withColumnRenamed("id", "v").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(work, "evil"))
        evil = glob.glob(os.path.join(work, "evil", "part-*.parquet"))[0]
        shutil.copyfile(evil, files[0])
        # drop the local-FS checksum sidecar: on S3/HDFS there is none, and
        # the point is that OUR per-partition lineage catches the swap
        crc = os.path.join(path, f".{os.path.basename(files[0])}.crc")
        if os.path.exists(crc):
            os.remove(crc)

        assert verify_stage(spark, path) != []
        with pytest.raises(StageIntegrityError):
            run_stage(spark, path, lambda: df)
        # on_corrupt='rebuild' recovers
        out = run_stage(spark, path, lambda: df, on_corrupt="rebuild")
        assert out.count() == 1000
        assert verify_stage(spark, path) == []
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_fused_path_matches_staged_path(spark):
    """The record kernel, the fused kernel, run_pipeline and dedupe_corpus
    agree: same feature rows (source aside: the staged records carry none)
    and the same clusters."""
    from pyspark.sql import functions as F

    from biblib_spark.operators.dedupe import (
        DedupConfig,
        dedupe_corpus,
        dedupe_records,
        features_from_corpus,
        preprocess,
        records_from_parsed,
    )
    from biblib_spark.sources.parse import parse_corpus

    corpus = make_corpus(spark, 120, seed=23)
    staged = dedupe_records(records_from_parsed(parse_corpus(corpus)))
    fused = dedupe_corpus(corpus)
    s = {(r.rid, r.cluster_id, r.is_unique) for r in staged.collect()}
    f = {(r.rid, r.cluster_id, r.is_unique) for r in fused.collect()}
    assert s == f and len(s) > 0

    records = records_from_parsed(parse_corpus(corpus))
    feat_staged = preprocess(records, DedupConfig()).drop("source")
    feat_fused = features_from_corpus(corpus).drop("source")
    assert feat_staged.count() == feat_fused.count() > 0
    assert feat_staged.exceptAll(feat_fused).count() == 0
    assert feat_fused.exceptAll(feat_staged).count() == 0

    with_feed = corpus.withColumn(
        "feed", F.concat(F.lit("reg-"), (F.col("row_id") % 3).cast("string"))
    )
    for source_col in (None, "feed"):
        work = tempfile.mkdtemp(prefix="pipeline_parity_")
        try:
            piped = run_pipeline(spark, with_feed, work, source_col=source_col)
            direct = dedupe_corpus(with_feed, source_col=source_col)
            assert _cluster_rows(piped) == _cluster_rows(direct)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def test_explicit_source_column_drives_preferences(spark):
    """M12: an explicit per-payload source register (independent of the
    detected format) flows through the fused path into election."""
    from pyspark.sql import functions as F

    from biblib_spark.operators.dedupe import DedupConfig, dedupe_corpus

    corpus = make_corpus(spark, 160, seed=31).withColumn(
        "feed", F.concat(F.lit("reg-"), (F.col("row_id") % 3).cast("string"))
    )
    cfg = DedupConfig(source_preferences=["reg-2", "reg-0", "reg-1"])
    out = dedupe_corpus(corpus, cfg, source_col="feed")

    assert set(
        r.source for r in out.select("source").distinct().collect()
    ) == {"reg-0", "reg-1", "reg-2"}
    stats = out.groupBy("cluster_id").agg(
        F.collect_set("source").alias("sources"),
        F.max(F.when(F.col("is_unique"), F.col("source"))).alias("winner"),
    )
    with_r2 = stats.filter(F.array_contains("sources", "reg-2"))
    assert with_r2.count() > 5
    assert with_r2.filter(F.col("winner") != "reg-2").count() == 0
    # clusters without reg-2 fall to the next preference
    no_r2 = stats.filter(
        ~F.array_contains("sources", "reg-2")
        & F.array_contains("sources", "reg-0")
    )
    assert no_r2.filter(F.col("winner") != "reg-0").count() == 0


def test_source_preferences_cross_format(spark):
    """M12 end-to-end: clusters span RIS and PubMed payloads; preferring the
    PubMed source must elect a PubMed-parsed record in mixed clusters."""
    from pyspark.sql import functions as F

    from biblib_spark.operators.dedupe import (
        DedupConfig,
        dedupe_features,
        features_from_corpus,
    )

    corpus = make_corpus(spark, 160, seed=31)
    cfg = DedupConfig(source_preferences=["PubMed", "RIS"])
    feat = features_from_corpus(corpus, cfg).localCheckpoint(eager=True)
    out = dedupe_features(feat, cfg)

    stats = (
        out.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("source").alias("n_sources"),
            F.max(F.when(F.col("is_unique"), F.col("source"))).alias("winner"),
        )
    )
    mixed = stats.filter(F.col("n_sources") > 1)
    n_mixed = mixed.count()
    assert n_mixed > 5, "expected cross-format clusters"
    assert mixed.filter(F.col("winner") != "PubMed").count() == 0
