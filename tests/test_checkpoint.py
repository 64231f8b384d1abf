"""Resumability: kill-after-stage -> restart -> identical final output
(SURVEY.md §5 test plan item 5), config-fingerprint invalidation, lineage.

A kill is simulated by the on-disk state it leaves behind: a completed
checkpointed run with every stage after the kill point removed (data,
manifest and lineage), since a stage commits by writing its manifest last."""

from __future__ import annotations

import pytest

import json
import os
import shutil

from deduplicator_spark.config import DedupConfig
from deduplicator_spark.plans.checkpoint import StageStore, config_fingerprint
from deduplicator_spark.plans.pipeline import run_pipeline

STAGES = ("validate", "edges", "clusters", "verdicts", "metrics")


def _verdict_set(df):
    return {(r["image_id"], r["verdict"], r["cluster_id"]) for r in df.collect()}


def _metric_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _kill_after(root, stage):
    """Leave ``root`` as a kill right after ``stage`` committed would."""
    for later in STAGES[STAGES.index(stage) + 1:]:
        shutil.rmtree(os.path.join(root, later))
        shutil.rmtree(os.path.join(root, "_lineage", later))


def _manifest(root, stage):
    return os.path.join(root, stage, "manifest.json")


@pytest.mark.slow
def test_kill_after_stage_then_resume_identical(spark, images_500, tmp_path):
    root = str(tmp_path / "ckpt")

    run_pipeline(images_500, checkpoint_dir=root)
    _kill_after(root, "edges")
    assert os.path.exists(_manifest(root, "edges"))
    assert not os.path.exists(_manifest(root, "clusters"))

    # resume: edges must be read back, not recomputed; final verdicts must
    # match the non-checkpointed pipeline exactly
    resumed = run_pipeline(images_500, checkpoint_dir=root)
    direct = run_pipeline(images_500)
    assert _verdict_set(resumed.verdicts) == _verdict_set(direct.verdicts)

    # second resume: everything cached, still identical
    again = run_pipeline(images_500, checkpoint_dir=root)
    assert _verdict_set(again.verdicts) == _verdict_set(direct.verdicts)


@pytest.mark.slow
def test_resume_does_not_rebuild_committed_stages(spark, images_500, tmp_path,
                                                  monkeypatch):
    """A committed stage is read back, never planned again: with the
    validate and edges builders broken, a resume after an edges-stage kill
    still completes with the same verdicts."""
    from deduplicator_spark.plans import pipeline

    root = str(tmp_path / "ckptr")
    want = _verdict_set(run_pipeline(images_500, checkpoint_dir=root).verdicts)
    _kill_after(root, "edges")

    def rebuilt(*args, **kwargs):
        raise AssertionError("a committed stage was rebuilt")

    monkeypatch.setattr(pipeline, "validation_features", rebuilt)
    monkeypatch.setattr(pipeline, "candidate_edges", rebuilt)
    resumed = run_pipeline(images_500, checkpoint_dir=root)
    assert _verdict_set(resumed.verdicts) == want
    assert os.path.exists(_manifest(root, "metrics"))


@pytest.mark.slow
def test_checkpointed_and_in_memory_metrics_agree(spark, images_500, tmp_path):
    ck = run_pipeline(images_500, checkpoint_dir=str(tmp_path / "ckptm"))
    mem = run_pipeline(images_500)
    assert _metric_rows(ck.metrics) == _metric_rows(mem.metrics)
    assert _verdict_set(ck.verdicts) == _verdict_set(mem.verdicts)


def test_config_change_invalidates_checkpoints(spark, images_500, tmp_path):
    root = str(tmp_path / "ckpt2")
    run_pipeline(images_500, checkpoint_dir=root)

    store_same = StageStore(spark, root)
    assert store_same.has("edges")
    store_other = StageStore(spark, root, cfg=DedupConfig(jaccard_threshold=0.9))
    assert not store_other.has("edges")
    assert config_fingerprint(DedupConfig()) != config_fingerprint(
        DedupConfig(jaccard_threshold=0.9)
    )


@pytest.mark.slow
def test_lineage_and_manifest_contents(spark, images_500, tmp_path):
    root = str(tmp_path / "ckpt3")
    res = run_pipeline(images_500, checkpoint_dir=root)
    assert res is not None

    store = StageStore(spark, root)
    lineage = store.lineage()
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"edges", "clusters", "verdicts", "metrics"} <= stages
    # lineage row counts reconcile with the committed data
    by_stage = {
        r["stage"]: r["total"]
        for r in lineage.groupBy("stage").sum("rows")
        .withColumnRenamed("sum(rows)", "total").collect()
    }
    assert by_stage["clusters"] == 500

    with open(_manifest(root, "clusters")) as f:
        m = json.load(f)
    assert m["rows"] == 500
    assert "image_id" in m["schema"]


@pytest.mark.slow
def test_resume_with_corrupt_input_quarantines(spark, images_500, tmp_path):
    """The checkpointed path applies the SAME payload validation as the
    in-memory one: a corrupt row is quarantined (own committed stage), never
    clustered, and resume after a kill reproduces the clean result."""
    corrupt = spark.createDataFrame(
        [("zzz-corrupt-bytes", bytearray(b"NOT AN IMAGE"), 8, 8, "png",
          "some caption text here", 0)],
        images_500.schema,
    )
    df = images_500.unionByName(corrupt).persist()
    root = str(tmp_path / "ckptq")

    run_pipeline(df, checkpoint_dir=root)
    _kill_after(root, "validate")
    assert os.path.exists(_manifest(root, "validate"))
    assert not os.path.exists(_manifest(root, "edges"))

    resumed = run_pipeline(df, checkpoint_dir=root)
    ids = {r["image_id"] for r in resumed.verdicts.collect()}
    assert "zzz-corrupt-bytes" not in ids and len(ids) == 500
    q = {r["metric"]: r["value"] for r in
         resumed.metrics.filter("stage = 'input'").collect()}
    assert q["quarantined"] == 1.0
    direct = run_pipeline(df)
    assert _verdict_set(resumed.verdicts) == _verdict_set(direct.verdicts)


@pytest.mark.slow
def test_changed_input_invalidates_checkpoints(spark, images_500, tmp_path):
    """Stale stages from a DIFFERENT input corpus must not be reused: the
    manifest records an input identity token (the Iceberg snapshot-id
    analog) and has() rejects on mismatch."""
    from deduplicator_spark.plans.checkpoint import input_identity
    from deduplicator_spark.synth import synthesize_images

    root = str(tmp_path / "ckpti")
    run_pipeline(images_500, checkpoint_dir=root)
    _kill_after(root, "edges")

    other = synthesize_images(spark, 300).persist()
    assert input_identity(other) != input_identity(images_500)
    store_other = StageStore(spark, root, input_token=input_identity(other))
    assert not store_other.has("edges")
    store_same = StageStore(spark, root, input_token=input_identity(images_500))
    assert store_same.has("edges")
    # a full run on the other corpus recomputes and yields 300 verdicts
    res = run_pipeline(other, checkpoint_dir=root)
    assert res.verdicts.count() == 300
    other.unpersist()


@pytest.mark.slow
def test_cli_run_synth(tmp_path, spark):
    from deduplicator_spark.cli import main

    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    rc = main(["--cores", "8", "run", "--synth", "300", "--output", out,
               "--checkpoint-dir", ck])
    assert rc == 0
    verdicts = spark.read.parquet(f"{out}/verdicts")
    assert verdicts.count() == 300
    # resume path: re-run with --resume reuses every committed stage, so
    # no manifest is rewritten
    committed = {s: os.stat(_manifest(ck, s)).st_mtime_ns for s in STAGES}
    rc = main(["--cores", "8", "run", "--synth", "300", "--output", out,
               "--checkpoint-dir", ck, "--resume"])
    assert rc == 0
    assert {s: os.stat(_manifest(ck, s)).st_mtime_ns for s in STAGES} == committed
