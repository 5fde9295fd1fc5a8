"""KG benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

Workloads (see README.md in this directory):

* ``kg_build``  cold checkpointed 8-stage builds (``plans.pipeline``);
* ``kg_serve``  daily ingest (``plans.incremental``) beside ``nproc``
  concurrent BGP query clients (``operators.bgp``).

Spark runs at ``local[nproc]`` inside this process. Inputs are generated
from ``--seed`` under ``.bench_work/`` in the repository root, which is
also where Spark's local and temporary directories go; the directory of
the run is removed at exit. Human-readable lines go to stdout first; the
last stdout line is the JSON result. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics from a traced run, whose spans
are also written to ``.bench_work/<workload>-<seed>-<pid>.spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
             "fresh_p50_s": "s", "peak_rss_mb": "MB"}
DRIVER_MEM = "3g"


class Context:
    def __init__(self, args, work: str, nproc: int):
        from measure import Tracer

        self.seed, self.trace, self.work, self.nproc = args.seed, bool(args.trace), work, nproc
        self.tracer = Tracer(self.trace, run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.jobs = None

    def job_group(self, label: str, counts: list[int]):
        return self.jobs.group(label, counts) if self.jobs else nullcontext()

    @staticmethod
    def log(msg: str) -> None:
        print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def _environment(work: str) -> int:
    """Make the run independent of how and where it was launched."""
    nproc = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # Python workers are forked by the JVM and import the package by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # session.get_spark's one-BLAS-thread-per-worker default applies, not
    # the launcher's. The driver heap is fixed, below get_spark's 8g default:
    # in local mode it holds the whole engine, and on a 4-core, 15 GB host an
    # 8g heap raised kg_serve's peak RSS from ~3.3 to ~5.7 GB (medians) with
    # no gain in latency or throughput.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.pop(var, None)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return nproc


def _start_spark(ctx: Context):
    from ed_twitter_spark.session import get_spark

    spark = get_spark("kgbench", cores=ctx.nproc, extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description="KG benchmark")
    ap.add_argument("--workload", required=True, choices=["kg_build", "kg_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ed_twitter_spark", "plans", "pipeline.py")):
        print(f"kgbench: the program under test is missing under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    nproc = _environment(work)
    import duckdb

    from build import KgBuild
    from measure import JobCounter, cpu_jiffies, median, steal_share, tail, tree_peak_rss_mb
    from serve import KgServe

    ctx = Context(args, work, nproc)
    wl = {"kg_build": KgBuild, "kg_serve": KgServe}[args.workload](ctx)
    tr = ctx.tracer
    t = time.perf_counter()
    with tr.span("session.start"):
        ctx.spark = _start_spark(ctx)
    session_s = time.perf_counter() - t
    if ctx.trace:
        ctx.jobs = JobCounter(ctx.spark.sparkContext)
    try:
        t = time.perf_counter()
        with tr.span("setup.gen"):
            wl.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("setup.prepare"):
            wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("setup.warm"):
            wl.warm()
        warm_s = time.perf_counter() - t

        cpu0, t0 = cpu_jiffies(), time.perf_counter()
        wl.measure(t0 + args.seconds)
        measured_s = time.perf_counter() - t0
        steal = steal_share(cpu0, cpu_jiffies())
        peak_rss_mb = tree_peak_rss_mb()
    finally:
        _stop_spark(ctx.spark)

    t = time.perf_counter()
    con = duckdb.connect(config={"threads": 2, "temp_directory": os.path.join(work, "duckdb")})
    errors = wl.check(con)
    con.close()
    check_s = time.perf_counter() - t

    ops, fresh = wl.op_latencies(), wl.fresh_latencies()
    tail_pct, op_tail = tail(ops)
    setup_s = session_s + gen_s + prepare_s + warm_s
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(ops),
        "op_tail_s": op_tail,
        "ops_per_s": len(ops) / max(getattr(wl, "elapsed", measured_s), 1e-9),
        "fresh_p50_s": median(fresh),
        "peak_rss_mb": peak_rss_mb,
    }
    failed_share = wl.failed / max(wl.attempted, 1)
    load1 = os.getloadavg()[0]
    info = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "master": f"local[{nproc}]", "driver_mem": DRIVER_MEM, "host_load1": load1,
        "host_steal_share": round(steal, 4),
        "inputs": wl.sizes,
        "op_samples": len(ops), "op_tail_pct": tail_pct, "fresh_samples": len(fresh),
        "failed_share": failed_share, "measured_s": round(measured_s, 3),
        "check_s": round(check_s, 3),
        "setup": {"session_s": session_s, "gen_s": gen_s, "prepare_s": prepare_s,
                  "warm_s": warm_s},
        "errors": errors[:10], **wl.summary(),
    }
    print(json.dumps(info, default=str))
    for name, value in e2e.items():
        alias = f"  ({wl.ALIASES[name]})" if name in wl.ALIASES else ""
        print(f"{name:>14} = {value:.4f} {E2E_UNITS[name]}{alias}")
    print(f"{'failed_share':>14} = {failed_share:.4f} ratio ({wl.failed}/{wl.attempted})")

    if ctx.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in _layer_metrics(
            ctx, wl, session_s, gen_s, prepare_s, warm_s, failed_share, load1,
            e2e).items()}
        tr.dump(f"{work}.spans.jsonl")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not errors, "attempted": max(wl.attempted, 1),
                      "failed": wl.failed if wl.attempted else 1, "metrics": metrics}))
    return 0


def _layer_metrics(ctx, wl, session_s, gen_s, prepare_s, warm_s, failed_share, load1, e2e):
    """Every per-layer metric; layers a workload does not exercise read 0."""
    from build import KgBuild
    from serve import KgServe

    out: dict[str, tuple[float, str]] = {
        "session.start.s": (session_s, "s"), "setup.gen.s": (gen_s, "s"),
        "setup.prepare.s": (prepare_s, "s"), "setup.warm.s": (warm_s, "s"),
    }
    for cls in (KgBuild, KgServe):
        out.update((wl if isinstance(wl, cls) else cls(ctx)).layer_metrics(ctx.tracer))
    out["failed_share"] = (failed_share, "ratio")
    out["host.load1"] = (load1, "load")
    # the traced run's end-to-end figures: minus the untraced run's, the overhead
    out["traced.op_p50_s"] = (e2e["op_p50_s"], "s")
    out["traced.fresh_p50_s"] = (e2e["fresh_p50_s"], "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
