"""``lake_rw``: reads beside commits on one snapshot table, plus a CDC feed.

One client runs a closed loop over a fixed cycle of op kinds; the seed
picks the rows, keys and ranges of every op:

- reads: a full aggregate, a point filter on a non-key column, a pruned
  range ``SELECT`` through ``execute_sql``, a ``VERSION AS OF`` read of a
  retained version, and ``changes()`` over the last versions;
- writes: an append of new orders with recent dates, an upsert
  ``merge`` on keys from recent appends (plus new keys) and one on keys
  scattered over the table, a SQL ``MERGE INTO``, a copy-on-write
  ``delete_where`` of a key range, and a maintenance op (``compact`` then
  ``expire_snapshots``) that ends every cycle;
- ingest: a commit to a small feed table (appends; every 4th a merge,
  every 8th a merge-on-read delete) followed by a ``snapshot_tail`` CDC
  drain into a ``snapshot_write`` sink table. All drains share one
  checkpoint, so the streaming query restarts once per commit, as a
  scheduled incremental job would. Its latency is the freshness: from
  handing the batch to the write call until the sink's new version is
  readable.

The table starts as two years of ``orders`` partitioned by
``months(o_orderdate)``. A pandas model replays the same op stream:
every read is compared with it, as is the whole table at the end, the
change counts of every feed commit and the replayed sink.
"""

from __future__ import annotations

import os
import time
from collections import Counter, deque
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa

import datagen
import stats
from check import frame_digest

SIZES = {
    "full": dict(rows=15000, feed_rows=500, append=(100, 400), merge=100, sql_merge=50,
                 delete=60, feed_append=(50, 200), feed_merge=30, feed_delete=20),
    "smoke": dict(rows=1500, feed_rows=100, append=(20, 60), merge=20, sql_merge=10,
                  delete=10, feed_append=(10, 30), feed_merge=5, feed_delete=5),
}
READS = ("read_full", "read_point", "select_pruned", "time_travel", "changes")
WRITES = ("append", "merge_recent", "merge_scattered", "merge_into", "delete", "maintain")
# A fixed order keeps the table state each op meets the same from run to
# run. ``changes`` reads the
# append and merge just before it, and the cycle ends with the two
# whole-table rewrites (delete, then compaction and expiry).
CYCLE = ("append", "read_point", "merge_recent", "changes", "select_pruned", "read_full",
         "merge_scattered", "merge_into", "time_travel", "ingest", "delete", "maintain")
# Warm-up: the op kinds whose first call is much slower than later ones
# (the first table reads, and the first streaming query start, which
# spawns the Python data-source runner). Other kinds measured the same
# in their first and second cycles.
WARMUP = ("append", "read_point", "select_pruned", "ingest")
KEEP_VERSIONS = 8
RECENT_DAYS = 60  # appends carry order dates from the last two months
HISTORY_DAYS = 730  # the table holds the last two years of orders
KEY = "o_orderkey"
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
FEED_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]
KIND_LAYER = {
    "read_full": "tables.read_full", "read_point": "tables.read_point",
    "changes": "tables.changes", "append": "tables.append",
    "merge_recent": "tables.merge_recent", "merge_scattered": "tables.merge_scattered",
    "delete": "tables.delete", "maintain": "tables.maintain",
    "select_pruned": "sql.select_pruned", "time_travel": "sql.time_travel",
    "merge_into": "sql.merge_into",
}
PROGRESS_PHASES = {
    "latestOffset": "latest_offset_ms", "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms", "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms", "triggerExecution": "trigger_ms",
}


def _cents(prices: pd.Series) -> int:
    return int(np.round(prices.to_numpy() * 100).astype(np.int64).sum())


def _diff(before: pd.DataFrame, after: pd.DataFrame) -> Counter:
    """Change rows a commit must produce, as ``changes(key=...)`` folds
    them: inserts, deletes, and pre/post images of changed rows."""
    gone = before.index.difference(after.index)
    new = after.index.difference(before.index)
    both = before.index.intersection(after.index)
    changed = int((before.loc[both] != after.loc[both]).any(axis=1).sum())
    c = Counter(insert=len(new), delete=len(gone),
                update_preimage=changed, update_postimage=changed)
    return +c


def _tree_bytes(path: str) -> dict[str, int]:
    out = {}
    for r, _d, fs in os.walk(path):
        for f in fs:
            p = os.path.join(r, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class LakeRW:
    def __init__(self, ctx):
        self.ctx = ctx
        self.n = SIZES[ctx.scale]
        self.rng = np.random.default_rng([ctx.seed, 2])
        self.seq = 0
        self.end_failures = 0
        self.model: pd.DataFrame | None = None
        self.versions: list[int] = []
        self.state: dict[int, tuple[int, int]] = {}  # version -> (rows, cents)
        self.vchanges: dict[int, Counter] = {}
        self.recent: deque = deque(maxlen=2000)  # keys of recent appends
        self.feed_changes: dict[int, Counter] = {}
        self.feed_drained = 0  # newest feed version the sink has
        self.ingests = 0
        self.untimed_s = 0.0  # preparing inputs and checking answers
        self.merge_audit = [0, 0]  # dirs reused, dirs rewritten
        self.bytes_created = 0
        self.bytes_submitted = 0
        self.drains: list[dict] = []
        self.end_counts: dict[str, float] = {}

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        ctx = self.ctx
        from pyspark.sql import types as T

        from empdia_iceberg_spark.sources.table_sink import SnapshotWriteDataSource
        from empdia_iceberg_spark.sources.table_stream import SnapshotTailDataSource
        from empdia_iceberg_spark.tables.manager import SnapshotTable

        self.spark = ctx.spark
        self.spark.dataSource.register(SnapshotTailDataSource)
        self.spark.dataSource.register(SnapshotWriteDataSource)
        self.schema = T.StructType([
            T.StructField("o_orderkey", T.LongType()), T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()), T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()), T.StructField("o_orderpriority", T.StringType()),
        ])
        self.feed_schema = T.StructType([self.schema[c] for c in FEED_COLS])
        root = ctx.table_root
        self.t = SnapshotTable(self.spark, "lake", root)
        self.feed = SnapshotTable(self.spark, "feed", root)
        self.sink = SnapshotTable(self.spark, "feed_cdc", root)
        self.ckpt = os.path.join(ctx.run_dir, "stream", "feed_cdc_ckpt")

        first = datagen.orders_frame(self.rng, self.n["rows"], 0, datagen.ORDER_DAYS - HISTORY_DAYS, datagen.ORDER_DAYS)
        self.next_key = len(first)
        with ctx.tracer.span("tables.create"):
            v = self.t.create(self._frame(first), partition_by=["months(o_orderdate)"])
        self.model = first.set_index(KEY)
        self._committed(v, Counter(insert=len(first)))

        feed0 = datagen.orders_frame(self.rng, self.n["feed_rows"], start_key=10**9)[FEED_COLS]
        self.feed_model = feed0.set_index(KEY)
        self.feed_next = 10**9 + len(feed0)
        with ctx.tracer.span("stream.create"):
            fv = self.feed.create(self.spark.createDataFrame(feed0, self.feed_schema))
            sink_schema = T.StructType(list(self.feed_schema.fields) + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.IntegerType()),
            ])
            self.sink.create(self.spark.createDataFrame([], sink_schema))
        self.feed_changes[fv] = Counter(insert=len(feed0))
        for kind in WARMUP:
            self._op(kind, timed=False)

    # -------------------------------------------------------------- loop
    def run(self, seconds: float) -> None:
        """One whole cycle, then cycles until ``seconds`` have gone by,
        the last one ending with the op that crosses that mark."""
        t0 = time.perf_counter()
        self.untimed_s = 0.0
        self._cycle(timed=True)
        while time.perf_counter() - t0 < seconds:
            self._cycle(timed=True, stop_at=t0 + seconds)
        self.ctx.window_s = time.perf_counter() - t0 - self.untimed_s

    def _cycle(self, timed: bool, stop_at: float | None = None) -> None:
        for kind in CYCLE:
            self._op(kind, timed)
            if stop_at is not None and time.perf_counter() >= stop_at:
                break

    def _op(self, kind: str, timed: bool) -> None:
        """Prepare the inputs, time the engine calls, then check the
        answer against the model; preparing and checking are untimed."""
        ctx = self.ctx
        self.timed = timed
        t_prep = time.perf_counter()
        call, check = getattr(self, "_" + kind)()
        before = _tree_bytes(self.t.base) if ctx.tracer.enabled and kind in WRITES else None
        err, out = None, None
        with ctx.tracer.span("op", req=self.seq, kind=kind, timed=timed):
            t0 = time.perf_counter()
            try:
                out = call()
            except Exception as e:  # a failed op is counted, not fatal
                err = f"{type(e).__name__}: {e}"[:300]
            ms = 1000.0 * (time.perf_counter() - t0)
        t1 = time.perf_counter()
        ok = False
        if err is None:
            try:
                ok, err = check(out)
            except Exception as e:
                ok, err = False, f"check {type(e).__name__}: {e}"[:300]
        if before is not None:
            self.bytes_created += sum(
                s for p, s in _tree_bytes(self.t.base).items() if p not in before
            )
        if timed:
            self.untimed_s += (t0 - t_prep) + (time.perf_counter() - t1)
        cls = "ingest" if kind == "ingest" else ("read" if kind in READS else "write")
        ctx.record(kind, cls, ms, ok, timed, err)
        self.seq += 1

    # ------------------------------------------------------------- helpers
    def _frame(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf, self.schema)

    def _submitted(self, pdf: pd.DataFrame) -> None:
        self.bytes_submitted += pa.Table.from_pandas(pdf, preserve_index=False).nbytes

    def _committed(self, v: int, changes: Counter) -> None:
        self.versions.append(v)
        self.state[v] = (len(self.model), _cents(self.model["o_totalprice"]))
        self.vchanges[v] = changes

    def _write_check(self, expect_change):
        """Check for a write: it made exactly one new version; the model
        takes the same change."""
        prev = self.versions[-1]

        def check(v):
            if not isinstance(v, int) or v != prev + 1:
                return False, f"commit returned version {v}, expected {prev + 1}"
            before = self.model
            self.model = expect_change(before)
            self._committed(v, _diff(before, self.model))
            return True, None

        return check

    def _updated(self, keys: np.ndarray) -> pd.DataFrame:
        """Model rows for ``keys`` with a new total price."""
        rows = self.model.loc[keys].reset_index()
        delta = np.round(self.rng.uniform(-500.0, 500.0, len(rows)), 2)
        rows["o_totalprice"] = np.round(np.maximum(rows["o_totalprice"] + delta, 1.0) + 0.01, 2)
        return rows[COLS]

    def _new_orders(self, n: int) -> pd.DataFrame:
        pdf = datagen.orders_frame(self.rng, n, self.next_key,
                                   datagen.ORDER_DAYS - RECENT_DAYS, datagen.ORDER_DAYS)
        self.next_key += n
        return pdf

    def _upsert(self, src: pd.DataFrame):
        def apply(m: pd.DataFrame) -> pd.DataFrame:
            s = src.set_index(KEY)
            return pd.concat([m.drop(s.index, errors="ignore"), s]).sort_index()

        return apply

    # ---------------------------------------------------------------- writes
    def _append(self):
        lo, hi = self.n["append"]
        pdf = self._new_orders(int(self.rng.integers(lo, hi + 1)))
        sdf = self._frame(pdf)
        self._submitted(pdf)
        self.recent.extend(pdf[KEY].tolist())

        def call():
            with self.ctx.tracer.span("tables.append"):
                return self.t.append(sdf)

        return call, self._write_check(self._upsert(pdf))

    def _merge(self, keys: np.ndarray, n_new: int, kind: str):
        """Upsert: new prices for ``keys`` plus ``n_new`` new orders."""
        src = pd.concat([self._updated(keys), self._new_orders(n_new)], ignore_index=True)
        sdf = self._frame(src)
        self._submitted(src)
        audit = {}

        def call():
            with self.ctx.tracer.span(f"tables.{kind}"):
                v, a = self.t.merge(sdf, key=KEY)
            audit.update(a)
            return v

        base = self._write_check(self._upsert(src))

        def check(v):
            self.merge_audit[0] += audit.get("dirs_reused", 0)
            self.merge_audit[1] += audit.get("dirs_rewritten", 0)
            return base(v)

        return call, check

    def _merge_recent(self):
        """Keys from recent appends, and a fifth as many new keys."""
        n = self.n["merge"]
        live = np.array([k for k in self.recent if k in self.model.index], dtype=np.int64)
        if len(live) < n:
            live = self.model.index.to_numpy()
        keys = self.rng.choice(live, n, replace=False)
        return self._merge(np.sort(keys), n // 5, "merge_recent")

    def _merge_scattered(self):
        keys = self.rng.choice(self.model.index.to_numpy(), self.n["merge"], replace=False)
        return self._merge(np.sort(keys), 0, "merge_scattered")

    def _merge_into(self):
        keys = np.sort(self.rng.choice(self.model.index.to_numpy(), self.n["sql_merge"], replace=False))
        src = self._updated(keys)[[KEY, "o_totalprice"]]
        from pyspark.sql import types as T

        view = self.spark.createDataFrame(src, T.StructType([self.schema[KEY], self.schema["o_totalprice"]]))
        view.createOrReplaceTempView("perfbench_merge_src")
        self._submitted(src)
        stmt = (
            "MERGE INTO lake t USING perfbench_merge_src s ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice"
        )

        def call():
            from empdia_iceberg_spark.tables.ddl import execute_sql

            with self.ctx.tracer.span("sql.merge_into"):
                execute_sql(self.spark, stmt, root=self.ctx.table_root)
            return self.t.current_version()

        def apply(m: pd.DataFrame) -> pd.DataFrame:
            m = m.copy()
            m.loc[src[KEY].to_numpy(), "o_totalprice"] = src["o_totalprice"].to_numpy()
            return m

        return call, self._write_check(apply)

    def _delete(self):
        keys = self.model.index.to_numpy()
        lo = int(keys[int(self.rng.integers(0, len(keys)))])
        hi = lo + self.n["delete"]
        from pyspark.sql import functions as F

        cond = (F.col(KEY) >= lo) & (F.col(KEY) < hi)

        def call():
            with self.ctx.tracer.span("tables.delete"):
                return self.t.delete_where(cond)

        return call, self._write_check(lambda m: m[(m.index < lo) | (m.index >= hi)])

    def _maintain(self):
        def call():
            with self.ctx.tracer.span("tables.compact"):
                v = self.t.compact()
            with self.ctx.tracer.span("tables.expire"):
                self.t.expire_snapshots(keep_last=KEEP_VERSIONS)
            return v

        base = self._write_check(lambda m: m)

        def check(v):
            ok, err = base(v)
            self.versions = self.versions[-KEEP_VERSIONS:]
            return ok, err

        return call, check

    # ----------------------------------------------------------------- reads
    def _read_full(self):
        from pyspark.sql import functions as F

        def call():
            with self.ctx.tracer.span("tables.read_full"):
                return (
                    self.t.read().groupBy("o_orderstatus")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"))
                    .toPandas()
                )

        def check(pdf):
            got = {r.o_orderstatus: (int(r.n), int(round(r.s * 100))) for r in pdf.itertuples()}
            m = self.model
            want = {k: (len(g), _cents(g["o_totalprice"])) for k, g in m.groupby("o_orderstatus")}
            if self.ctx.plant_wrong:
                want = {k: (n + 1, c) for k, (n, c) in want.items()}
            return (got == want, None if got == want else f"aggregate {got} != model {want}")

        return call, check

    def _compare(self, rows_fn, want_fn):
        def check(pdf):
            ok = frame_digest(pdf) == frame_digest(want_fn())
            return ok, None if ok else f"{len(pdf)} rows differ from the model"

        return rows_fn, check

    def _read_point(self):
        from pyspark.sql import functions as F

        cust = int(self.rng.integers(0, 1500))

        def call():
            with self.ctx.tracer.span("tables.read_point"):
                return self.t.read().filter(F.col("o_custkey") == cust).toPandas()

        return self._compare(call, lambda: self.model[self.model["o_custkey"] == cust].reset_index()[COLS])

    def _select_pruned(self):
        first = int(self.rng.integers(0, datagen.ORDER_DAYS - 60))
        lo = datagen.ORDER_START + first
        hi = lo + 61
        stmt = (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM lake "
            f"WHERE o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'"
        )

        def call():
            from empdia_iceberg_spark.tables.ddl import execute_sql

            with self.ctx.tracer.span("sql.select_pruned"):
                return execute_sql(self.spark, stmt, root=self.ctx.table_root).toPandas()

        def want():
            m = self.model
            d = m["o_orderdate"].to_numpy()
            sel = (d >= lo.astype("datetime64[us]")) & (d < hi.astype("datetime64[us]"))
            return m[sel].reset_index()[["o_orderkey", "o_custkey", "o_totalprice"]]

        return self._compare(call, want)

    def _time_travel(self):
        v = int(self.rng.choice(self.versions[:-1]))
        stmt = (
            "SELECT count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s "
            f"FROM lake VERSION AS OF {v}"
        )

        def call():
            from empdia_iceberg_spark.tables.ddl import execute_sql

            with self.ctx.tracer.span("sql.time_travel"):
                return execute_sql(self.spark, stmt, root=self.ctx.table_root).toPandas()

        def check(pdf):
            got = (int(pdf["n"][0]), int(round(pdf["s"][0] * 100)))
            ok = got == self.state[v]
            return ok, None if ok else f"v{v}: {got} != {self.state[v]}"

        return call, check

    def _changes(self):
        cur = self.versions[-1]
        a = max(self.versions[0] + 1, cur - 1)
        want = sum((self.vchanges[v] for v in range(a, cur + 1)), Counter())

        def call():
            with self.ctx.tracer.span("tables.changes"):
                return (
                    self.t.changes(a, cur, key=KEY).groupBy("_change_type").count().toPandas()
                )

        def check(pdf):
            got = Counter(dict(zip(pdf["_change_type"], pdf["count"].astype(int))))
            return got == want, None if got == want else f"changes v{a}..v{cur}: {dict(got)} != {dict(want)}"

        return call, check

    # ---------------------------------------------------------------- ingest
    def _ingest(self):
        """One feed commit, then one CDC drain into the sink."""
        from pyspark.sql import functions as F

        i = self.ingests
        self.ingests += 1
        before = self.feed_model
        if i % 8 == 7:
            keys = self.rng.choice(before.index.to_numpy(), self.n["feed_delete"], replace=False)
            keys = [int(k) for k in keys]
            after = before.drop(keys)

            def commit():
                return self.feed.delete_where_mor(F.col(KEY).isin(keys), key=KEY)
        else:
            if i % 4 == 3:
                keys = np.sort(self.rng.choice(before.index.to_numpy(), self.n["feed_merge"], replace=False))
                src = before.loc[keys].reset_index()
                src["o_totalprice"] = np.round(src["o_totalprice"] + 1.0, 2)
            else:
                lo, hi = self.n["feed_append"]
                n = int(self.rng.integers(lo, hi + 1))
                src = datagen.orders_frame(self.rng, n, self.feed_next)[FEED_COLS]
                self.feed_next += n
            sdf = self.spark.createDataFrame(src, self.feed_schema)
            s = src.set_index(KEY)
            after = pd.concat([before.drop(s.index, errors="ignore"), s]).sort_index()
            merge = i % 4 == 3

            def commit():
                return self.feed.merge(sdf, key=KEY)[0] if merge else self.feed.append(sdf)

        expect = _diff(before, after)
        sink_before = self.sink.current_version()
        info: dict = {}

        def call():
            tr = self.ctx.tracer
            with tr.span("stream.source_commit"):
                t = time.perf_counter()
                v = commit()
                info["source_commit_ms"] = 1000.0 * (time.perf_counter() - t)
            with tr.span("stream.drain") as drain_span:
                t = time.perf_counter()
                wall = time.time()
                q = self._drain()
                info["drain_ms"] = 1000.0 * (time.perf_counter() - t)
                info["progress"] = q.recentProgress
            with tr.span("stream.sink_visible"):
                visible = self.sink.current_version()
            if drain_span is not None:
                for p in info["progress"]:
                    start = t + (_iso(p["timestamp"]) - wall)
                    tr.add("stream.trigger", start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0,
                           drain_span)
            info["visible"] = visible
            return v

        def check(v):
            self.feed_model = after
            self.feed_changes[v] = expect
            rows = sum(p.get("numInputRows", 0) for p in info["progress"])
            self._drained(info, rows)
            if info["visible"] is None or info["visible"] <= (sink_before or 0):
                return False, "sink has no new version after the drain"
            want = sum(sum(c.values()) for u, c in self.feed_changes.items() if u > self.feed_drained)
            self.feed_drained = v
            return rows == want, None if rows == want else f"drained {rows} change rows, expected {want}"

        return call, check

    def _drain(self):
        q = (
            self.spark.readStream.format("snapshot_tail")
            .option("table", "feed").option("root", self.ctx.table_root)
            .option("read_changes", "true").option("cdc_key", KEY)
            .load().drop("_commit_timestamp")
            .writeStream.format("snapshot_write")
            .option("table", "feed_cdc").option("root", self.ctx.table_root)
            .option("run_id", "perfbench")
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    def _drained(self, info: dict, rows: int) -> None:
        d = {"drain_ms": info["drain_ms"], "source_commit_ms": info["source_commit_ms"],
             "rows": rows, "batches": len(info["progress"]), "timed": self.timed}
        for phase, name in PROGRESS_PHASES.items():
            d[name] = sum(p["durationMs"].get(phase, 0) for p in info["progress"])
        d["start_overhead_ms"] = d["drain_ms"] - d["trigger_ms"]
        self.drains.append(d)

    # ------------------------------------------------------------ end checks
    def finish(self) -> None:
        ctx = self.ctx
        t = time.perf_counter()
        got = self.t.read().toPandas()
        if frame_digest(got) != frame_digest(self.model.reset_index()[COLS]):
            self.end_failures += 1
            ctx.errors.append(f"end: table ({len(got)} rows) differs from the model ({len(self.model)})")
        sink = self.sink.read().toPandas()
        per_version = sink.groupby(["_commit_version", "_change_type"]).size()
        got_changes = {int(v): Counter() for v in sink["_commit_version"].unique()}
        for (v, ct), n in per_version.items():
            got_changes[int(v)][ct] = int(n)
        want_changes = {v: c for v, c in self.feed_changes.items() if c}
        if got_changes != want_changes:
            self.end_failures += 1
            ctx.errors.append("end: sink change counts per version differ from the feed's commits")
        replay = self._replay(sink)
        if frame_digest(replay) != frame_digest(self.feed_model.reset_index()[FEED_COLS]):
            self.end_failures += 1
            ctx.errors.append("end: replaying the sink does not give the feed table")
        self._end_counts()
        ctx.reference_s += time.perf_counter() - t

    @staticmethod
    def _replay(sink: pd.DataFrame) -> pd.DataFrame:
        rows: dict[int, tuple] = {}
        order = {"update_preimage": 0, "delete": 1, "insert": 2, "update_postimage": 3}
        sink = sink.assign(_o=sink["_change_type"].map(order)).sort_values(["_commit_version", "_o"])
        for key, status, price, ct in sink[FEED_COLS + ["_change_type"]].itertuples(index=False, name=None):
            if ct in ("insert", "update_postimage"):
                rows[key] = (key, status, price)
            elif ct == "delete":
                rows.pop(key, None)
        return pd.DataFrame(list(rows.values()), columns=FEED_COLS)

    def _end_counts(self) -> None:
        files = _tree_bytes(self.t.base)
        meta = sum(s for p, s in files.items() if os.sep + "_meta" + os.sep in p)
        live = pa.Table.from_pandas(self.model.reset_index()[COLS], preserve_index=False).nbytes
        self.end_counts = {
            "tables.data_files": sum(1 for p in files if p.endswith(".parquet")),
            "tables.versions": self.versions[-1],
            "tables.meta_bytes": meta,
            "tables.space_amp": sum(files.values()) / live,
            "stream.sink_versions": self.sink.current_version(),
        }

    # --------------------------------------------------------- layer metrics
    def layer_metrics(self) -> dict[str, float]:
        tr = self.ctx.tracer
        kids: dict[int, list[dict]] = {}
        for s in tr.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)

        def jobs(s):
            return len(s.get("jobs", [])) + sum(jobs(k) for k in kids.get(s["id"], []))

        ms: dict[str, list[float]] = {}
        nj: dict[str, list[float]] = {}
        for s in tr.spans:
            if s["name"] == "op" and s.get("timed") and s["kind"] in KIND_LAYER:
                name = KIND_LAYER[s["kind"]]
                ms.setdefault(name, []).append(1000.0 * (s["end"] - s["start"]))
                nj.setdefault(name, []).append(jobs(s))
        out: dict[str, float] = {}
        for name in ms:
            out[f"{name}_ms"] = stats.median(ms[name])
            out[f"{name}.jobs"] = stats.median(nj[name])
        by_cls = stats.group(self.ctx.ops, "cls")
        out["lake.read_p50_ms"] = stats.median(by_cls.get("read", []))
        out["lake.write_p50_ms"] = stats.median(by_cls.get("write", []))
        reused, rewritten = self.merge_audit
        out["tables.merge.dirs_reused_ratio"] = reused / (reused + rewritten) if reused + rewritten else 0.0
        out["tables.write_amp"] = self.bytes_created / self.bytes_submitted if self.bytes_submitted else 0.0
        out.update(self.end_counts)
        drains = [d for d in self.drains if d["timed"]]
        if drains:
            for k in ("drain_ms", "source_commit_ms", "start_overhead_ms", *PROGRESS_PHASES.values()):
                out[f"stream.{k}"] = stats.median(d[k] for d in drains)
            out["stream.batches_per_drain"] = stats.median(d["batches"] for d in drains)
            out["stream.rows_per_drain"] = stats.median(d["rows"] for d in drains)
            total_s = sum(d["drain_ms"] for d in drains) / 1000.0
            out["stream.rows_per_s"] = sum(d["rows"] for d in drains) / total_s
        out["stream.freshness_ms"] = stats.median(by_cls.get("ingest", []))
        return out


def _iso(ts: str) -> float:
    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()
