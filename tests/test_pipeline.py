"""Checkpoint/resume pipeline: lineage fingerprints, metrics rows, resume."""

from __future__ import annotations

from dataclasses import replace

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from ed_twitter_spark import io as kgio
from ed_twitter_spark.plans import pipeline
from ed_twitter_spark.plans.pipeline import STAGES, run_pipeline


def test_pipeline_runs_resumes_and_invalidates(spark, tmp_path):
    root = str(tmp_path / "ckpt")

    # cold run: every stage executes and lands a checkpoint
    r1 = run_pipeline(spark, SF_SMOKE, root)
    assert set(r1) == {s.name for s in STAGES}
    assert all(not rec["skipped"] for rec in r1.values())
    assert all(rec["rows"] > 0 for rec in r1.values())

    # warm run: identical fingerprints → everything skipped
    r2 = run_pipeline(spark, SF_SMOKE, root)
    assert all(rec["skipped"] for rec in r2.values())
    assert {n: rec["rows"] for n, rec in r2.items()} == {
        n: rec["rows"] for n, rec in r1.items()
    }

    # force mid-pipeline: the named stage and every descendant re-run
    # (a distrusted checkpoint invalidates everything built from it);
    # ancestors stay skipped
    r3 = run_pipeline(spark, SF_SMOKE, root, force=("candidates",))
    assert r3["transcripts"]["skipped"] and r3["kb_alias"]["skipped"]
    assert r3["windows"]["skipped"]
    for st in ("candidates", "triples", "components", "vertices", "edges"):
        assert not r3[st]["skipped"], st
        assert r3[st]["rows"] == r1[st]["rows"], st


def test_metrics_per_partition_sum_to_total(spark, tmp_path):
    """The sidecar contract: exact ``_metrics``/``_lineage`` schemas (lineage
    columns in key-sorted order); ``_metrics`` holds one row per partition of
    the data as read back plus exactly one totals row equal to lineage rows."""
    root = str(tmp_path / "ckpt")
    run_pipeline(spark, SF_SMOKE, root)
    for st in STAGES:
        m = kgio.read_metrics(spark, root, st.name)
        lineage = spark.read.parquet(f"{root}/{st.name}/_lineage")
        assert m.schema.simpleString() == "struct<stage:string,partition_id:int,rows:bigint>"
        assert lineage.schema.simpleString() == (
            "struct<deps:string,fingerprint:string,rows:bigint,schema:string,"
            "stage:string,wall_s:double,written_at:string>"
        )
        assert lineage.count() == 1
        rows = m.collect()
        assert {r["stage"] for r in rows} == {st.name}
        want = kgio.read_stage(spark, root, st.name).groupBy(F.spark_partition_id()).count()
        got = sorted((r["partition_id"], r["rows"]) for r in rows if r["partition_id"] >= 0)
        assert got and got == sorted(tuple(r) for r in want.collect()), st.name
        totals = [r["rows"] for r in rows if r["partition_id"] == -1]
        assert totals == [sum(n for _, n in got)], st.name
        assert totals == [kgio.read_lineage(spark, root, st.name)["rows"]], st.name
    assert kgio.read_lineage(spark, root, "triples")["deps"] == '["candidates"]'


def test_failed_stage_stops_descendants(spark, tmp_path, monkeypatch):
    """A stage whose build raises fails the run with that exception; its
    descendants never checkpoint, while the stages that do not depend on it
    (transcripts → windows beside kb_alias) still do."""

    def boom(spark, sf_dir, inputs):
        raise RuntimeError("kb_alias failed")

    monkeypatch.setattr(pipeline, "STAGES", tuple(
        replace(st, build=boom) if st.name == "kb_alias" else st for st in STAGES
    ))
    root = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="kb_alias failed"):
        pipeline.run_pipeline(spark, SF_SMOKE, root)
    for name in ("kb_alias", "candidates", "triples", "components", "vertices", "edges"):
        assert kgio.read_lineage(spark, root, name) is None, name
    for name in ("transcripts", "windows"):
        assert kgio.read_lineage(spark, root, name) is not None, name


def test_stage_jobs_inherit_callers_job_group(spark, tmp_path):
    """Stages run on pool threads, yet every job of a cold run is counted
    under the caller's job group: none runs outside it."""
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup())
    sc.setJobGroup("test-pipeline-cold", "cold run")
    try:
        run_pipeline(spark, SF_SMOKE, str(tmp_path / "ckpt"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    grouped = sc.statusTracker().getJobIdsForGroup("test-pipeline-cold")
    # each stage at least writes its data, counts it and writes two sidecars
    assert len(grouped) >= 4 * len(STAGES)
    assert set(sc.statusTracker().getJobIdsForGroup()) - ungrouped == set()


def test_write_stage_empty_output(spark, tmp_path):
    """A stage that legitimately produces zero rows still checkpoints: the
    (stage, -1, 0) totals row exists and lineage records rows=0 — an empty
    stage is complete, not broken."""
    import time

    root = str(tmp_path / "ckpt_empty")
    empty = spark.range(0).selectExpr("id AS x")
    rec = kgio.write_stage(empty, root, "nothing", fp="f0", deps=[], started_at=time.time())
    assert rec["rows"] == 0
    m = kgio.read_metrics(spark, root, "nothing").collect()
    totals = [r for r in m if r["partition_id"] == -1]
    assert len(totals) == 1 and totals[0]["rows"] == 0
    assert kgio.read_lineage(spark, root, "nothing")["rows"] == 0


def test_graph_tables_consistent(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    run_pipeline(spark, SF_SMOKE, root)
    v = kgio.read_stage(spark, root, "vertices")
    e = kgio.read_stage(spark, root, "edges")
    t = kgio.read_stage(spark, root, "triples")
    # every non-NIL triple becomes exactly one edge with a resolved vertex
    n_non_nil = t.where(t.obj != "NIL").count()
    assert e.count() == n_non_nil
    assert e.where(e.obj_vertex.isNull()).count() == 0
    # edge vertices ⊆ vertex table ids; every vertex has a canonical name
    ids = {r.vertex_id for r in v.select("vertex_id").collect()}
    used = {r.obj_vertex for r in e.select("obj_vertex").distinct().collect()}
    assert used <= ids
    assert v.where(v.canonical_name.isNull()).count() == 0
