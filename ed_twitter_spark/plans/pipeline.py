"""Resumable staged KG pipeline: the spark-submit entry for a real cluster.

The end-to-end dataflow (SURVEY.md §3.3 "Spark lifecycle equivalent") as an
explicit DAG of checkpointed stages. Each stage writes data + per-partition
metrics + a lineage row through :mod:`ed_twitter_spark.io`; on re-run a stage
whose recorded fingerprint still matches (code version + sf_dir + input
fingerprints) is **skipped** and loaded from its checkpoint, so a run killed
mid-pipeline resumes at the first incomplete stage (north rule,
BASELINE.json:6,14). The reference's equivalent is the strict file-dataflow
of run_all.sh (`deep-ed-pytorch/run_all.sh:22-36`) plus torch memo-caches —
ours adds fingerprint invalidation so upstream edits re-run exactly the
downstream suffix.

Stage boundaries double as shuffle barriers: transcripts and kb_alias scan
the raw input once each; windows/triples shuffle on conv_id; components is
the iterative CC loop; vertices/edges are broadcast-side joins. A stage
starts once its dependencies are written, so independent stages run
concurrently; at 10^12 turns every stage restarts without recomputing its ancestors.

Run:  spark-submit --py-files ed_twitter_spark.zip -m ed_twitter_spark.plans.pipeline
(or `python -m ed_twitter_spark.plans.pipeline [sf_dir] [checkpoint_root]`).
"""

from __future__ import annotations

import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ed_twitter_spark import io as kgio


@dataclass(frozen=True)
class Stage:
    name: str
    version: str  # bump when the stage's code semantics change
    deps: tuple[str, ...]
    build: Callable[[SparkSession, str, dict[str, DataFrame]], DataFrame]


def _transcripts(spark, sf_dir, _):
    from ed_twitter_spark import synth

    return synth.transcripts(spark, sf_dir)


def _kb_alias(spark, sf_dir, _):
    from ed_twitter_spark import synth

    return synth.kb_alias(spark, sf_dir)


def _windows(spark, sf_dir, inputs):
    from ed_twitter_spark.functions.fixtures import load_embedding_matrix
    from ed_twitter_spark.operators.linker import build_mention_windows

    emb = load_embedding_matrix(spark, sf_dir)
    return build_mention_windows(inputs["transcripts"], emb.shape[0] - 1)


def _candidates(spark, sf_dir, inputs):
    from ed_twitter_spark.operators.linker import attach_candidates

    return attach_candidates(inputs["windows"], inputs["kb_alias"])


def _triples(spark, sf_dir, inputs):
    from ed_twitter_spark.functions.fixtures import load_embedding_matrix
    from ed_twitter_spark.operators.linker import score_mentions

    emb = load_embedding_matrix(spark, sf_dir)
    return score_mentions(inputs["candidates"], emb)


def _components(spark, sf_dir, inputs):
    from ed_twitter_spark.operators.canonicalize import (
        connected_components,
        surface_equivalence_edges,
    )

    edges = surface_equivalence_edges(inputs["triples"], inputs["kb_alias"])
    return connected_components(edges)


def _vertices(spark, sf_dir, inputs):
    from ed_twitter_spark.operators.graph import kg_vertices

    return kg_vertices(inputs["components"])


def _edges(spark, sf_dir, inputs):
    from ed_twitter_spark.operators.graph import kg_edges

    return kg_edges(inputs["triples"], inputs["components"])


STAGES: tuple[Stage, ...] = (
    Stage("transcripts", "v1", (), _transcripts),
    Stage("kb_alias", "v1", (), _kb_alias),
    Stage("windows", "v1", ("transcripts",), _windows),
    Stage("candidates", "v1", ("windows", "kb_alias"), _candidates),
    Stage("triples", "v1", ("candidates",), _triples),
    Stage("components", "v1", ("triples", "kb_alias"), _components),
    Stage("vertices", "v1", ("components",), _vertices),
    Stage("edges", "v1", ("triples", "components"), _edges),
)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    resume: bool = True,
    force: tuple[str, ...] = (),
) -> dict[str, dict]:
    """Execute the DAG; returns {stage: lineage record + 'skipped' flag}.

    ``resume=False`` rebuilds everything; ``force`` invalidates the named stages (and,
    via fingerprints, their descendants); a failed stage stops its descendants and re-raises.
    """
    fps, skipped = {}, {}
    for st in STAGES:
        fp = fps[st.name] = kgio.fingerprint(st.name, st.version, sf_dir, *map(fps.get, st.deps))
        lineage = kgio.read_lineage(spark, root, st.name) if resume else None
        # a rebuilt ancestor's output may differ from what the checkpoint saw
        if (lineage and lineage["fingerprint"] == fp and st.name not in force
                and all(d in skipped for d in st.deps)):
            skipped[st.name] = {**lineage, "skipped": True}

    def build(st, deps):
        for d in deps:
            d.result()  # a failed dependency's exception ends this stage too
        inputs = {d: kgio.read_stage(spark, root, d) for d in st.deps}
        t0 = time.time()
        df = st.build(spark, sf_dir, inputs)
        record = kgio.write_stage(df, root, st.name, fps[st.name], list(st.deps), started_at=t0)
        return {**record, "skipped": False}

    running = {}
    with ThreadPoolExecutor(max_workers=len(STAGES)) as pool:
        for st in STAGES:  # topological order: dependencies are submitted first
            if st.name not in skipped:
                deps = [running[d] for d in st.deps if d in running]
                # the stage's thread gets its own copy of the caller's job group and properties
                running[st.name] = pool.submit(inheritable_thread_target(build), st, deps)
    return {st.name: skipped.get(st.name) or running[st.name].result() for st in STAGES}


def main(argv: list[str]) -> None:
    from ed_twitter_spark.session import get_spark

    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
    root = argv[2] if len(argv) > 2 else "/tmp/kg_checkpoints"
    spark = get_spark("kg_pipeline")
    for name, rec in run_pipeline(spark, sf_dir, root).items():
        flag = "SKIP" if rec["skipped"] else "RUN "
        print(f"{flag} {name}: rows={rec['rows']} wall={rec['wall_s']}s fp={rec['fingerprint']}")


if __name__ == "__main__":
    main(sys.argv)
