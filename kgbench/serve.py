"""Workload ``kg_serve``: daily ingest beside concurrent BGP queries.

Set-up derives the KB alias table and the prior-linker typed triple store
(the rows of ``graph.kg_typed_edges`` -> ``bgp.kg_triple_store``) from the
seeded corpus with their DuckDB twins, writes both as Parquet, and warms up
the ingest and query paths. The store is this workload's input, not its
subject, and DuckDB derives it far sooner than a cold Spark session;
``kg_build`` measures the Spark build of the graph. One writer
lands the next ingest date's ``dt=`` partition (untimed) and times
``plans.incremental.ingest_day`` plus an ``entity_stats(read_state(...))``
read: the freshness latency. The measured ``--seconds`` have two phases:

* the first half, the writer alone: the freshness samples;
* the second half, the writer beside ``nproc`` query clients that run a closed
  loop over four seeded BGP
  templates, cycled in turn: entity star, conversation neighbourhood,
  co-occurrence and a per-conversation ``bgp_aggregate``. Vertex constants are drawn Zipf by
  degree rank, conversation constants uniformly.

Every issued query is checked against DuckDB running the same template as
self-joins over the Parquet store, and the final entity statistics
against a from-scratch DuckDB computation over all landed days.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random
import threading
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from measure import dir_bytes, median

TURNS = 800
DAYS = 40
WARM_DAYS = 6
WARM_SERVE_S = 3.0
BASE_DATE = "2026-01-01"
VERTEX_ZIPF_S = 1.0

# (name, constant kind, DuckDB twin over the view ``store``)
TEMPLATES = (
    ("entity_star", "vertex",
     "SELECT DISTINCT a.s, a.p, b.o FROM store a JOIN store b ON b.s = a.s "
     "WHERE a.o = $k AND b.p = 'in_conv'"),
    ("conv_neighbourhood", "conv",
     "SELECT DISTINCT a.o, c.p FROM store a, store b, store c "
     "WHERE a.s = $k AND a.p = 'mentions' AND b.p = 'in_conv' AND b.o = $k "
     "AND c.s = b.s AND c.o = a.o"),
    ("cooccurrence", "vertex",
     "SELECT DISTINCT b.o FROM store a JOIN store b ON b.s = a.s "
     "WHERE a.p = 'mentions' AND a.o = $k AND b.p = 'mentions'"),
    ("conv_aggregate", "conv",
     "SELECT c.p, COUNT(DISTINCT c.o) FROM store b JOIN store c ON c.s = b.s "
     "WHERE b.p = 'in_conv' AND b.o = $k GROUP BY c.p"),
)

_TWIN_SQL = {name: sql for name, _, sql in TEMPLATES}


def compile_query(store, template: str, k: str):
    """The lazy Spark plan for one template instance."""
    from ed_twitter_spark.operators import bgp

    if template == "entity_star":
        return bgp.bgp_query(store, [("?m", "?p", k), ("?m", "in_conv", "?c")])
    if template == "conv_neighbourhood":
        return bgp.bgp_query(
            store, [(k, "mentions", "?e"), ("?m", "in_conv", k), ("?m", "?p", "?e")],
            select=["e", "p"])
    if template == "cooccurrence":
        return bgp.bgp_query(
            store, [("?c", "mentions", k), ("?c", "mentions", "?e2")], select=["e2"])
    return bgp.bgp_aggregate(
        store, [("?m", "in_conv", k), ("?m", "?p", "?e")], group_by=["p"],
        count_distinct="e")


def _day(i: int) -> str:
    import datetime

    return str(datetime.date.fromisoformat(BASE_DATE) + datetime.timedelta(days=i))


class KgServe:
    name = "kg_serve"
    ALIASES = {"op_p50_s": "query_p50_s", "op_tail_s": "query_tail_s",
               "ops_per_s": "queries_per_s", "fresh_p50_s": "ingest_p50_s"}

    def __init__(self, ctx):
        self.ctx = ctx
        w = ctx.work
        self.in_dir, self.kb_path, self.store_path = f"{w}/in", f"{w}/kb", f"{w}/store"
        self.turns_path, self.state_path = f"{w}/turns", f"{w}/state"
        self.attempted = self.failed = 0
        self.queries: list[dict] = []
        self.days: list[dict] = []  # freshness samples, writer alone
        self.loaded_days: list[dict] = []  # writer beside the query clients
        self.next_day = 0
        self.landed: list[str] = []
        self.final_stats: list | None = None
        self.sizes: dict = {}
        self.t_measure = self.t_queries = 0.0
        self._lock = threading.Lock()

    # -- set-up ---------------------------------------------------------
    def generate(self) -> dict:
        import gen

        return gen.generate(self.in_dir, TURNS, self.ctx.seed)

    def prepare(self) -> None:
        import duckdb

        from ed_twitter_spark import synth
        from ed_twitter_spark.operators.graph import kg_typed_edges_oracle_sql

        con = duckdb.connect(config={"threads": self.ctx.nproc})
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.in_dir}/documents.parquet')")
        # kg_triple_store's three predicate families over the typed edges
        store = con.execute(f"""
            WITH typed AS (SELECT * FROM ({kg_typed_edges_oracle_sql()})
                           WHERE obj_vertex IS NOT NULL)
            SELECT subj AS s, pred AS p, obj_vertex AS o FROM typed
            UNION ALL SELECT subj, 'in_conv', conv_id FROM typed
            UNION ALL SELECT DISTINCT conv_id, 'mentions', obj_vertex FROM typed""").arrow()
        kb = con.execute(synth.KB_ALIAS_SQL).arrow()
        # as many files as Spark's own writer would leave, so scans split alike
        n_files = 2 * self.ctx.nproc
        for path, table in ((self.store_path, store), (self.kb_path, kb)):
            os.makedirs(path)
            step = -(-table.num_rows // n_files)
            for i in range(n_files):
                pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")
        spark = self.ctx.spark
        self.kb = spark.read.parquet(self.kb_path)
        self.store = spark.read.parquet(self.store_path)

        per_day = -(-TURNS // DAYS)
        # the day's turns, derived by the transcripts twin of synth.transcripts
        self.turns = con.execute(
            f"SELECT *, CAST(doc_id // {per_day} AS INTEGER) AS day "
            f"FROM ({synth.TRANSCRIPTS_SQL}) ORDER BY doc_id").arrow()
        con.execute(f"CREATE VIEW store AS SELECT * FROM read_parquet('{self.store_path}/*.parquet')")
        verts = con.execute(
            "SELECT o, COUNT(*) AS n FROM store WHERE p LIKE 'mentioned_%' "
            "GROUP BY o ORDER BY n DESC, o").fetchall()
        self.vertices = [v for v, _ in verts]
        self.vertex_cdf = list(itertools.accumulate(
            1.0 / (r + 1) ** VERTEX_ZIPF_S for r in range(len(verts))))
        self.convs = [r[0] for r in con.execute(
            "SELECT DISTINCT s FROM store WHERE p = 'mentions' ORDER BY s").fetchall()]
        self.sizes = {"turns": TURNS, "days": DAYS, "kb_rows": kb.num_rows,
                      "store_rows": store.num_rows, "vertices": len(self.vertices),
                      "conversations": len(self.convs)}
        con.close()

    def warm(self) -> None:
        # the clients warm up without the writer, so the measured days
        # always start at day WARM_DAYS, whatever the ingest speed
        self._writer(None, None, WARM_DAYS)
        self._serve(time.perf_counter() + WARM_SERVE_S, None, None)

    # -- operations -----------------------------------------------------
    def _land(self, i: int) -> int:
        d = _day(i)
        part = self.turns.filter(pc.equal(self.turns.column("day"), i)).drop(["day"])
        os.makedirs(f"{self.turns_path}/dt={d}", exist_ok=True)
        path = f"{self.turns_path}/dt={d}/part-0.parquet"
        pq.write_table(part, path)
        self.landed.append(d)
        return os.path.getsize(path)

    def _ingest(self, i: int, sink: list | None) -> None:
        from ed_twitter_spark.operators.candidates import gen_candidates, link_prior_argmax
        from ed_twitter_spark.operators.mentions import detect_mentions
        from ed_twitter_spark.plans import incremental as inc

        ctx, spark, d = self.ctx, self.ctx.spark, _day(i)
        landed_bytes = self._land(i)
        jobs: list[int] = []
        t0 = time.perf_counter()
        try:
            with ctx.job_group("day", jobs), ctx.tracer.span("ingest"):
                if ctx.trace:  # the steps of ingest_day, one at a time
                    with ctx.tracer.span("incremental.link"):
                        turns = inc.day_turns(spark, self.turns_path, d)
                        triples = link_prior_argmax(
                            gen_candidates(detect_mentions(turns), self.kb))
                        partials = inc.day_partials(triples).persist()
                        partials.count()
                    with ctx.tracer.span("incremental.merge_state"):
                        version = inc.merge_state(spark, self.state_path, partials)
                    partials.unpersist()
                else:
                    version = inc.ingest_day(spark, self.turns_path, self.state_path, d, self.kb)
                with ctx.tracer.span("incremental.entity_stats"):
                    stats = inc.entity_stats(inc.read_state(spark, self.state_path)).collect()
        except Exception as e:  # noqa: BLE001 - a failed day is counted, not fatal
            ctx.log(f"ingest of {d} failed: {e!r}")
            if sink is not None:
                with self._lock:
                    self.attempted += 1
                    self.failed += 1
            return
        wall = time.perf_counter() - t0
        self.final_stats = stats
        if sink is not None:
            with self._lock:
                self.attempted += 1
            snap = f"{self.state_path}/snap={version}"
            sink.append({
                "wall": wall, "jobs": sum(jobs), "landed_bytes": landed_bytes,
                "snap_bytes": dir_bytes(snap),
                "state_rows": sum(pq.ParquetFile(os.path.join(snap, f)).metadata.num_rows
                                  for f in os.listdir(snap) if f.endswith(".parquet")),
            })

    def _writer(self, deadline: float | None, sink: list | None, n_max: int = DAYS) -> None:
        """Ingest the following days; start one only while a median day fits."""
        walls: list[float] = []
        for _ in range(n_max):
            if self.next_day >= DAYS:
                return
            t0 = time.perf_counter()
            self._ingest(self.next_day, sink)
            self.next_day += 1
            walls.append(time.perf_counter() - t0)
            if deadline is not None and time.perf_counter() + median(walls) > deadline:
                return

    def _serve(self, deadline: float, queries: list | None, days: list | None) -> None:
        """``nproc`` query clients until the deadline, beside the writer if ``days``."""
        threads = [threading.Thread(target=self._client, args=(c, deadline, queries),
                                    name=f"client{c}") for c in range(self.ctx.nproc)]
        if days is not None:
            threads.append(threading.Thread(target=self._writer, args=(deadline, days),
                                            name="writer"))
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def _client(self, c: int, deadline: float, sink: list | None) -> None:
        ctx = self.ctx
        rng = random.Random(ctx.seed * 1000 + c + (0 if sink is not None else 500))
        n = 0
        while time.perf_counter() < deadline:
            # each client cycles through the templates, so every run issues
            # the same mix; the constants are drawn from the client's seed
            name, kind, _ = TEMPLATES[(c + n) % len(TEMPLATES)]
            n += 1
            if kind == "vertex":
                r = bisect.bisect_left(self.vertex_cdf, rng.random() * self.vertex_cdf[-1])
                k = self.vertices[min(r, len(self.vertices) - 1)]
            else:
                k = rng.choice(self.convs)
            jobs: list[int] = []
            t0 = time.perf_counter()
            try:
                with ctx.job_group("query", jobs), ctx.tracer.span("query"):
                    with ctx.tracer.span("bgp.compile"):
                        df = compile_query(self.store, name, k)
                    with ctx.tracer.span("bgp.execute"):
                        rows = df.collect()
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                ctx.log(f"query {name}({k}) failed: {e!r}")
                if sink is not None:
                    with self._lock:
                        self.attempted += 1
                        self.failed += 1
                continue
            wall = time.perf_counter() - t0
            if sink is not None:
                with self._lock:
                    self.attempted += 1
                    sink.append({"template": name, "k": k, "wall": wall,
                                         "rows": [tuple(r) for r in rows], "jobs": sum(jobs)})

    def measure(self, deadline: float) -> None:
        t0 = self.t_measure = time.perf_counter()
        self._writer(t0 + (deadline - t0) / 2, self.days)
        t1 = self.t_queries = time.perf_counter()
        self._serve(deadline, self.queries, self.loaded_days)
        self.elapsed = time.perf_counter() - t1

    def op_latencies(self) -> list[float]:
        return [q["wall"] for q in self.queries]

    def fresh_latencies(self) -> list[float]:
        return [d["wall"] for d in self.days]

    # -- correctness ----------------------------------------------------
    def check(self, con) -> list[str]:
        from ed_twitter_spark.operators.mentions import MENTIONS_SQL_TEMPLATE
        from ed_twitter_spark.synth import MENTION_MIN_LEN

        errors: list[str] = []
        con.execute(f"CREATE OR REPLACE VIEW store AS SELECT * FROM "
                    f"read_parquet('{self.store_path}/*.parquet')")
        for q in self.queries:
            want = sorted(con.execute(_TWIN_SQL[q["template"]], {"k": q["k"]}).fetchall())
            if sorted(q["rows"]) != want:
                errors.append(f"query {q['template']}({q['k']}): {len(q['rows'])} rows, "
                              f"DuckDB {len(want)}")
        # from-scratch entity statistics over every landed day
        landed = ", ".join(f"'{self.turns_path}/dt={d}/part-0.parquet'" for d in self.landed)
        mentions = MENTIONS_SQL_TEMPLATE.format(
            transcripts_sql=f"SELECT * FROM read_parquet([{landed}])", min_len=MENTION_MIN_LEN)
        want = con.execute(f"""
            WITH m AS ({mentions}),
            kb1 AS (SELECT mention, ent_name, prior FROM read_parquet('{self.kb_path}/*.parquet')
                    WHERE rank = 1)
            SELECT kb1.ent_name AS obj, COUNT(*) AS n_links,
                   COUNT(DISTINCT m.conv_id) AS n_convs, ROUND(SUM(kb1.prior), 6) AS score_sum
            FROM m JOIN kb1 ON kb1.mention = m.mention
            GROUP BY kb1.ent_name ORDER BY obj""").fetchall()
        got = sorted(tuple(r) for r in (self.final_stats or []))
        bad = len(got) != len(want) or any(
            g[:3] != w[:3] or abs(g[3] - w[3]) > 2e-6 for g, w in zip(got, want))
        if bad:
            errors.append(f"entity_stats ({len(got)} rows) != from-scratch DuckDB ({len(want)} rows)")
        return errors

    def summary(self) -> dict:
        by_t: dict[str, int] = {}
        for q in self.queries:
            by_t[q["template"]] = by_t.get(q["template"], 0) + 1
        return {"queries_by_template": by_t, "days_alone": len(self.days),
                "fresh_s": [round(d["wall"], 3) for d in self.days],
                "days_beside_queries": len(self.loaded_days),
                "fresh_beside_queries_p50_s": median([d["wall"] for d in self.loaded_days])}

    # -- per-layer metrics ------------------------------------------------
    def layer_metrics(self, tracer) -> dict[str, tuple[float, str]]:
        out: dict[str, tuple[float, str]] = {}
        for key in ("incremental.link", "incremental.merge_state", "incremental.entity_stats"):
            out[f"{key}.s"] = (median(tracer.durations(key, self.t_measure, self.t_queries)), "s")
        for key in ("bgp.compile", "bgp.execute"):
            out[f"{key}.s"] = (median(tracer.durations(key, self.t_queries)), "s")
        days = self.days
        out["incremental.state_rows"] = (days[-1]["state_rows"] if days else 0, "count")
        out["incremental.snapshot_bytes"] = (days[-1]["snap_bytes"] if days else 0, "bytes")
        out["incremental.write_amp"] = (
            median([d["snap_bytes"] / d["landed_bytes"] for d in days]), "ratio")
        out["jobs_per_day"] = (median([d["jobs"] for d in days]), "count")
        out["bgp.rows"] = (median([len(q["rows"]) for q in self.queries]), "count")
        out["jobs_per_query"] = (median([q["jobs"] for q in self.queries]), "count")
        return out
