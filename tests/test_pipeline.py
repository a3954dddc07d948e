"""End-to-end pipeline: checkpoint/resume (C8), quarantine, fused-path parity."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from biblib_spark.corpus import make_corpus
from biblib_spark.plans.icetable import IceTable
from biblib_spark.plans.pipeline import run_pipeline


def test_pipeline_resume(spark):
    work = tempfile.mkdtemp(prefix="pipeline_test_")
    try:
        corpus = make_corpus(spark, 150, seed=11)
        n1 = run_pipeline(spark, corpus, work).count()
        assert n1 > 0
        stages = {
            s: IceTable(os.path.join(work, s)) for s in ("diagnostics", "clusters")
        }
        for table in stages.values():
            snap = table.snapshot()
            assert snap["rows"] > 0 and snap["manifest"]
            assert snap["summary"]["lineage"]["input_rows"] == 150

        # full resume: all stages skipped (no new snapshot), same rows.
        # Structural check, not wall-clock — a timing ratio flakes under
        # suite-wide load; an unchanged snapshot version proves the stage
        # was skipped regardless of scheduler noise.
        versions = {s: t.current_version() for s, t in stages.items()}
        assert versions == {"diagnostics": 1, "clusters": 1}
        n2 = run_pipeline(spark, corpus, work).count()
        assert n2 == n1
        for stage, v in versions.items():
            assert stages[stage].current_version() == v, (
                f"stage {stage} was rebuilt on resume"
            )

        # partial resume: only the deleted stage rebuilds, reusing parsed
        shutil.rmtree(os.path.join(work, "clusters"))
        n3 = run_pipeline(spark, corpus, work).count()
        assert n3 == n1
        assert stages["diagnostics"].current_version() == 1
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
    silently return the stale stage (snapshot lineage comparison)."""
    work = tempfile.mkdtemp(prefix="pipeline_relineage_")
    try:
        n1 = run_pipeline(spark, make_corpus(spark, 60, seed=1), work).count()
        n2 = run_pipeline(spark, make_corpus(spark, 90, seed=2), work).count()
        assert n2 != n1  # rebuilt from the new corpus, not resumed
        lineage = IceTable(os.path.join(work, "diagnostics")).snapshot()[
            "summary"
        ]["lineage"]
        assert lineage["input_rows"] == 90
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_resume_with_changed_config_rebuilds(spark):
    """The clusters stage's lineage carries the dedup config and the source
    column: resuming with a source register must not return the clusters of
    a run without one."""
    from pyspark.sql import functions as F

    from biblib_spark.operators.dedupe import DedupConfig

    work = tempfile.mkdtemp(prefix="pipeline_recfg_")
    try:
        corpus = make_corpus(spark, 80, seed=13).withColumn(
            "feed", F.concat(F.lit("reg-"), (F.col("row_id") % 2).cast("string"))
        )
        run_pipeline(spark, corpus, work).count()
        cfg = DedupConfig(source_preferences=["reg-1", "reg-0"])
        out = run_pipeline(spark, corpus, work, cfg, source_col="feed")
        sources = {r.source for r in out.select("source").distinct().collect()}
        assert sources == {"reg-0", "reg-1"}
        lineage = IceTable(os.path.join(work, "clusters")).snapshot()[
            "summary"
        ]["lineage"]
        assert lineage["source_col"] == "feed"
        assert lineage["cfg"]["source_preferences"] == ["reg-1", "reg-0"]
        # same settings again: resumed, not recommitted
        v = IceTable(os.path.join(work, "clusters")).current_version()
        run_pipeline(spark, corpus, work, cfg, source_col="feed").count()
        assert IceTable(os.path.join(work, "clusters")).current_version() == v
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_resume_with_shifted_row_ids_rebuilds(spark):
    """Same payload content under new ``row_id``s is a different input: the
    resumed clusters carry the new rids, not the stale ones."""
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="pipeline_rerid_")
    try:
        corpus = make_corpus(spark, 60, seed=7)
        first = run_pipeline(spark, corpus, work)
        rid_range = first.agg(F.min("rid"), F.max("rid")).collect()[0]
        shifted = corpus.withColumn("row_id", F.col("row_id") + 1000)
        fresh = {
            r.rid
            for r in run_pipeline(
                spark, shifted, tempfile.mkdtemp(dir=work)
            ).collect()
        }
        resumed = {r.rid for r in run_pipeline(spark, shifted, work).collect()}
        assert resumed == fresh
        assert min(resumed) > rid_range[1]  # no stale rid survives
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_resume_detects_tampered_partition(spark):
    """C8: per-partition lineage counters catch a corrupted/replaced file."""
    import glob

    from biblib_spark.plans.checkpoint import StageIntegrityError, run_stage

    work = tempfile.mkdtemp(prefix="stage_tamper_")
    path = os.path.join(work, "stage")
    try:
        df = spark.range(0, 1000, numPartitions=4).withColumnRenamed("id", "v")
        run_stage(spark, path, lambda: df)
        table = IceTable(path)
        snap = table.snapshot()
        assert len(snap["manifest"]) >= 2
        assert snap["rows"] == 1000
        assert table.verify(spark) == []

        # tamper: replace one data file with a different one
        files = table.files(snap)
        spark.range(0, 7).withColumnRenamed("id", "v").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(work, "evil"))
        evil = glob.glob(os.path.join(work, "evil", "part-*.parquet"))[0]
        shutil.copyfile(evil, files[0])
        # drop the local-FS checksum sidecar: on S3/HDFS there is none, and
        # the point is that OUR per-partition lineage catches the swap
        crc = os.path.join(
            os.path.dirname(files[0]), f".{os.path.basename(files[0])}.crc"
        )
        if os.path.exists(crc):
            os.remove(crc)

        assert table.verify(spark) != []
        with pytest.raises(StageIntegrityError):
            run_stage(spark, path, lambda: df)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_fused_path_matches_staged_path(spark):
    from biblib_spark.operators.dedupe import (
        dedupe_corpus,
        dedupe_records,
        records_from_parsed,
    )
    from biblib_spark.sources.parse import parse_corpus

    corpus = make_corpus(spark, 120, seed=23)
    staged = dedupe_records(records_from_parsed(parse_corpus(corpus)))
    fused = dedupe_corpus(corpus)
    s = {(r.rid, r.cluster_id, r.is_unique) for r in staged.collect()}
    f = {(r.rid, r.cluster_id, r.is_unique) for r in fused.collect()}
    assert s == f and len(s) > 0


@pytest.mark.parametrize("seed", [42, 5])
def test_record_features_equal_corpus_features(spark, seed):
    """Both entry points run one feature kernel: the staged path's feature
    table (parse -> records_from_parsed -> features_from_records) equals the
    fused path's (features_from_corpus) in every column but ``source``,
    which is the record's own (NULL here) vs. the detected format."""
    from biblib_spark.operators.dedupe import (
        features_from_corpus,
        features_from_records,
        records_from_parsed,
    )
    from biblib_spark.sources.parse import parse_corpus

    corpus = make_corpus(spark, 200, seed=seed)
    staged = features_from_records(records_from_parsed(parse_corpus(corpus)))
    fused = features_from_corpus(corpus)
    assert staged.columns == fused.columns
    staged = staged.drop("source").localCheckpoint(eager=True)
    fused = fused.drop("source").localCheckpoint(eager=True)
    assert staged.count() == fused.count() > 0
    assert staged.exceptAll(fused).count() == 0
    assert fused.exceptAll(staged).count() == 0


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
