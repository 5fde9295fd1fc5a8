"""Workload ``kg_build``: a cold checkpointed 8-stage build of a seeded corpus.

The measured operation is ``plans.pipeline.run_pipeline(resume=False)``
into a fresh checkpoint root, as the first build of a fresh session: the
batch build runs as its own ``spark-submit``, so its operator pays the
JVM's first-run costs (class loading, code generation, Python worker
start) on every build, and so does this benchmark: one build per run,
with no warm-up.

The traced run calls the same ``run_pipeline`` with the stage builders
and the ``io`` read/write functions wrapped in spans, so each stage span
covers its build and its ``io.write_stage``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from measure import dir_bytes

TURNS = 300


def _stage_names():
    from ed_twitter_spark.plans.pipeline import STAGES

    return [st.name for st in STAGES]


@contextmanager
def _traced_pipeline(tracer):
    """Wrap the pipeline's stage builders and io calls in spans."""
    from dataclasses import replace

    from ed_twitter_spark import io as kgio
    from ed_twitter_spark.plans import pipeline

    open_stage: dict[str, object] = {}
    orig_stages, orig_write, orig_read = pipeline.STAGES, kgio.write_stage, kgio.read_stage

    def wrap_build(st):
        def build(spark, sf_dir, inputs):
            cm = tracer.span(f"stage.{st.name}")
            cm.__enter__()
            open_stage[st.name] = cm
            try:
                with tracer.span("pipeline.plan"):
                    return st.build(spark, sf_dir, inputs)
            except BaseException:
                open_stage.pop(st.name).__exit__(None, None, None)
                raise
        return build

    def write_stage(df, root, stage, *a, **kw):
        try:
            with tracer.span("io.write_stage"):
                return orig_write(df, root, stage, *a, **kw)
        finally:
            open_stage.pop(stage).__exit__(None, None, None)

    def read_stage(*a, **kw):
        with tracer.span("io.read_stage"):
            return orig_read(*a, **kw)

    pipeline.STAGES = tuple(replace(st, build=wrap_build(st)) for st in orig_stages)
    kgio.write_stage, kgio.read_stage = write_stage, read_stage
    try:
        yield
    finally:
        pipeline.STAGES = orig_stages
        kgio.write_stage, kgio.read_stage = orig_write, orig_read


class KgBuild:
    name = "kg_build"
    ALIASES = {"op_p50_s": "build_s"}

    def __init__(self, ctx):
        self.ctx = ctx
        self.in_dir = os.path.join(ctx.work, "in")
        self.root = os.path.join(ctx.work, "build")
        self.wall: float | None = None  # the build's latency, once it succeeded
        self.result: dict = {}  # run_pipeline's per-stage lineage records
        self.jobs: list[int] = []
        self.attempted = self.failed = 0
        self.sizes: dict = {}
        self.edges_fp = None
        self.nil_share = 0.0

    # -- set-up ---------------------------------------------------------
    def generate(self) -> dict:
        import gen

        return gen.generate(self.in_dir, TURNS, self.ctx.seed)

    def prepare(self) -> None:
        pass

    def warm(self) -> None:
        pass  # the operator's build is a cold one; see the module docstring

    # -- measurement ----------------------------------------------------
    def measure(self, deadline: float) -> None:
        from ed_twitter_spark.caching import release_caches
        from ed_twitter_spark.plans.pipeline import run_pipeline

        ctx = self.ctx
        t0 = time.perf_counter()
        try:
            with ctx.job_group("build", self.jobs), ctx.tracer.span("build"):
                if ctx.trace:
                    with _traced_pipeline(ctx.tracer):
                        result = run_pipeline(ctx.spark, self.in_dir, self.root, resume=False)
                else:
                    result = run_pipeline(ctx.spark, self.in_dir, self.root, resume=False)
        except Exception as e:  # noqa: BLE001 - a failed build is counted, not fatal
            done = sum(os.path.isdir(f"{self.root}/{s}/_lineage") for s in _stage_names())
            self.attempted, self.failed = done + 1, 1
            ctx.log(f"build failed after {done} stages: {e!r}")
            return
        finally:
            release_caches()
        self.wall = time.perf_counter() - t0
        self.attempted, self.result = len(result), result

    def op_latencies(self) -> list[float]:
        return [] if self.wall is None else [self.wall]

    def fresh_latencies(self) -> list[float]:
        # The whole corpus lands at once; it is readable when the build ends.
        return self.op_latencies()

    # -- correctness ----------------------------------------------------
    def check(self, con) -> list[str]:
        from ed_twitter_spark import synth
        from ed_twitter_spark.operators.mentions import mentions_sql

        if self.wall is None:
            return ["the build did not complete"]
        errors: list[str] = []
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.in_dir}/documents.parquet')")
        pq = lambda stage: f"read_parquet('{self.root}/{stage}/data/*.parquet')"  # noqa: E731
        # order-insensitive row hash; prior compared at its 6-decimal rounding
        kb_hash = ("SELECT COUNT(*), SUM(hash(mention, ent_id, ent_name, cnt, total_freq, rank, "
                   "CAST(round(prior * 1e6) AS BIGINT))::HUGEINT) FROM ({})")
        want_kb = con.execute(kb_hash.format(synth.KB_ALIAS_SQL)).fetchone()
        got_kb = con.execute(kb_hash.format(f"SELECT * FROM {pq('kb_alias')}")).fetchone()
        if got_kb != want_kb:
            errors.append(f"kb_alias differs from KB_ALIAS_SQL: {got_kb} != {want_kb}")
        n_mentions = con.execute(f"SELECT COUNT(*) FROM ({mentions_sql()})").fetchone()[0]
        n_triples = con.execute(f"SELECT COUNT(*) FROM {pq('triples')}").fetchone()[0]
        if n_triples != n_mentions:
            errors.append(f"triples {n_triples} != mentions {n_mentions}")
        null_v = con.execute(
            f"SELECT COUNT(*) FROM {pq('edges')} WHERE obj_vertex IS NULL").fetchone()[0]
        if null_v:
            errors.append(f"{null_v} edges without obj_vertex")
        n_vert = con.execute(f"SELECT COUNT(*) FROM {pq('vertices')}").fetchone()[0]
        n_comp = con.execute(
            f"SELECT COUNT(DISTINCT component) FROM {pq('components')}").fetchone()[0]
        if n_vert != n_comp:
            errors.append(f"vertices {n_vert} != distinct components {n_comp}")
        self.edges_fp = "%032x" % (con.execute(
            f"SELECT SUM(hash(subj, obj, obj_vertex))::HUGEINT FROM {pq('edges')}"
        ).fetchone()[0] % (1 << 128))
        self.nil_share = con.execute(
            f"SELECT AVG(CASE WHEN obj = 'NIL' THEN 1.0 ELSE 0.0 END) FROM {pq('triples')}"
        ).fetchone()[0]
        self.sizes = {"turns": con.execute("SELECT COUNT(*) FROM documents").fetchone()[0],
                      "mentions": n_mentions, "kb_rows": want_kb[0], "days": 1}
        return errors

    def summary(self) -> dict:
        return {"edges_fingerprint": self.edges_fp}

    # -- per-layer metrics ------------------------------------------------
    def layer_metrics(self, tracer) -> dict[str, tuple[float, str]]:
        """Stage spans are inclusive (the layer's busy time); the plan, read
        and write spans are leaves, so their durations are self times."""
        total = lambda name: sum(tracer.durations(name))  # noqa: E731
        rows = lambda stage: self.result.get(stage, {}).get("rows", 0)  # noqa: E731
        out: dict[str, tuple[float, str]] = {}
        for n in _stage_names():
            data = f"{self.root}/{n}/data"
            out[f"stage.{n}.s"] = (total(f"stage.{n}"), "s")
            out[f"stage.{n}.rows"] = (rows(n), "count")
            out[f"stage.{n}.bytes"] = (dir_bytes(data) if self.result else 0, "bytes")
        for key in ("pipeline.plan", "io.read_stage", "io.write_stage"):
            out[f"{key}.s"] = (total(key), "s")
        out["pipeline.self.s"] = (tracer.self_times().get("build", 0.0), "s")
        out["canonicalize.nodes"] = (rows("components"), "count")
        out["linker.nil_share"] = (self.nil_share, "ratio")
        out["jobs_per_build"] = (sum(self.jobs), "count")
        return out
