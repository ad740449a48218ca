"""``analytics``: registered read queries, closed loop, one client.

Every execution builds a fresh plan: the registered call, then
``toPandas``. Each pass runs every query once, in an order shuffled by
the seed; the timed window runs two whole passes, then passes until
``--seconds`` have gone by, the last one cut off there. Expected answers
come from each query's DuckDB oracle over the same generated files,
computed before the window (and outside set-up time); a result counts as
correct when its row count, column names and order-insensitive value
hash match.
"""

from __future__ import annotations

import os
import time

import numpy as np

import datagen
import stats
from check import digest, frame_digest

# One query per layer, cheap enough that a run holds a few passes:
# operators.relational with functions.exact (q1), operators.windows,
# functions.reward, operators.dedup, operators.similarity (Arrow
# batches), streaming.windows and plans.curation (pandas UDFs).
QUERIES = (
    "q1_pricing_agg",
    "window_rank_topk_per_customer",
    "reward_trajectory",
    "doc_exact_dedup",
    "knn_cosine_top5",
    "stream_tumbling_hourly",
    "curation_pipeline",
)

# Every query is timed at least this often in a run, so that no query's
# median rests on one execution, and each run times the same work.
MIN_PASSES = 2


class Analytics:
    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.expected: dict[str, tuple] = {}
        self.end_failures = 0
        self.seq = 0

    def setup(self) -> None:
        ctx = self.ctx
        datagen.write(ctx.data_dir, ctx.seed, ctx.scale)
        from empdia_iceberg_spark import registry

        specs = registry.specs()
        self.fns = {q: specs[q].fn for q in QUERIES}
        t = time.perf_counter()
        self.expected = oracle_digests(ctx.data_dir, {q: specs[q].oracle for q in QUERIES})
        if ctx.plant_wrong:
            n, cols, h = self.expected[QUERIES[0]]
            self.expected[QUERIES[0]] = (n, cols, "0" * len(h))
        ctx.reference_s += time.perf_counter() - t
        self._pass(timed=False)

    def run(self, seconds: float) -> None:
        """``MIN_PASSES`` whole passes, then passes until ``seconds`` have
        gone by, the last one ending with the op that crosses that mark."""
        t0 = time.perf_counter()
        untimed = sum(self._pass(timed=True) for _ in range(MIN_PASSES))
        while time.perf_counter() - t0 < seconds:
            untimed += self._pass(timed=True, stop_at=t0 + seconds)
        self.ctx.window_s = time.perf_counter() - t0 - untimed

    def finish(self) -> None:
        pass

    def _pass(self, timed: bool, stop_at: float | None = None) -> float:
        """Run every query once, or until ``stop_at``; return the time
        spent checking answers."""
        ctx = self.ctx
        check_s = 0.0
        for i in self.rng.permutation(len(QUERIES)):
            q = QUERIES[i]
            err = None
            with ctx.tracer.span("op", req=self.seq, query=q, timed=timed):
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("plan"):
                        df = self.fns[q](ctx.spark, ctx.data_dir)
                    with ctx.tracer.span("collect"):
                        pdf = df.toPandas()
                except Exception as e:  # a failed op is counted, not fatal
                    pdf, err = None, f"{type(e).__name__}: {e}"[:300]
                ms = 1000.0 * (time.perf_counter() - t0)
            t1 = time.perf_counter()
            ok = pdf is not None and frame_digest(pdf) == self.expected[q]
            if pdf is not None and not ok:
                err = "answer differs from the oracle"
            check_s += time.perf_counter() - t1
            ctx.record(q, "query", ms, ok, timed, err)
            self.seq += 1
            if stop_at is not None and time.perf_counter() >= stop_at:
                break
        return check_s

    def layer_metrics(self) -> dict[str, float]:
        """Per query, medians over its timed executions: time inside the
        registered call, time collecting, and the Spark jobs, task time
        and shuffle bytes each one caused."""
        tr = self.ctx.tracer
        by_parent: dict[int, list[dict]] = {}
        for s in tr.spans:
            if s["parent"] is not None:
                by_parent.setdefault(s["parent"], []).append(s)
        acc: dict[str, dict[str, list[float]]] = {}
        for s in tr.spans:
            if s["name"] != "op" or not s.get("timed"):
                continue
            kids = {k["name"]: k for k in by_parent.get(s["id"], [])}
            if "collect" not in kids:
                continue
            a = acc.setdefault(s["query"], {})
            spans = [s] + list(kids.values())
            for key, val in (
                ("plan_ms", 1000.0 * (kids["plan"]["end"] - kids["plan"]["start"])),
                ("collect_ms", 1000.0 * (kids["collect"]["end"] - kids["collect"]["start"])),
                ("jobs", sum(len(x.get("jobs", [])) for x in spans)),
                ("task_ms", sum(x.get("task_ms", 0.0) for x in spans)),
                ("shuffle_bytes", sum(x.get("shuffle_bytes", 0.0) for x in spans)),
            ):
                a.setdefault(key, []).append(val)
        return {f"q.{q}.{k}": stats.median(v) for q, a in acc.items() for k, v in a.items()}


def oracle_digests(data_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for q, sql in oracles.items():
        res = con.execute(sql)
        out[q] = digest([d[0] for d in res.description], res.fetchall())
    con.close()
    return out
