"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 14 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, taken from spans around
every call into the engine. The line before it is a ``{"detail": ...}``
object with sample counts, tails, per-kind medians and the run's
environment. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "lake_rw")
# Spark's local parallelism. The inputs are sf0.01-sized, so an op's
# time is per-action and per-task overhead: on a 4-vCPU host local[1]
# ran both workloads faster than local[2], and its op times varied less
# from run to run (perfbench/README.md). One task thread leaves the
# host's other cores to the JVM's own threads and to the other tenants
# of a shared host, so a busy neighbour slows a run less.
LOCAL_CPUS = 1


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full",
                   help="smoke: small inputs and a short op stream, for the self-test")
    p.add_argument("--plant-wrong", action="store_true",
                   help="corrupt one expected answer, to check that failures are counted")
    return p.parse_args(argv)


def host_settings(run_dir: str, trace: bool) -> dict:
    """The environment every run pins: fresh per-run roots for every
    engine cache and table catalog, the local parallelism, a driver heap
    that fits the host, and the package on the Python workers' path."""
    cpus = min(LOCAL_CPUS, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        total_mb = next(int(ln.split()[1]) // 1024 for ln in f if ln.startswith("MemTotal:"))
    heap_mb = max(1024, min(16384, total_mb // 4))
    sub = lambda name: os.path.join(run_dir, name)  # noqa: E731
    env = {
        "SPARK_GRAFT_TABLE_ROOT": sub("tables"),
        "SPARK_GRAFT_BUCKET_ROOT": sub("bucketed"),
        "SPARK_GRAFT_ANN_ROOT": sub("ann"),
        "SPARK_GRAFT_STREAM_ROOT": sub("stream"),
        "SPARK_GRAFT_SINK_ROOT": sub("sink"),
        "SPARK_LOCAL_DIRS": sub("spark_local"),
        "TMPDIR": sub("tmp"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }
    for k, v in env.items():
        if k != "PYTHONPATH" and k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
            os.makedirs(v, exist_ok=True)
    # The JVM's temporary files go to the run directory too; without
    # UsePerfData it writes no /tmp/hsperfdata_* file. Its GC threads
    # are held to the local parallelism.
    submit = (
        f"--driver-java-options '-Djava.io.tmpdir={sub('tmp')} -XX:-UsePerfData "
        f"-XX:ParallelGCThreads={cpus} -XX:ConcGCThreads=1' "
    )
    if trace:
        from spans import event_log_conf

        os.makedirs(sub("eventlog"), exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = submit + event_log_conf(sub("eventlog"))
    else:
        env["PYSPARK_SUBMIT_ARGS"] = submit + "pyspark-shell"
    return env


def start_session(ctx) -> None:
    """Import the package, start the session and run a first action,
    timing each step."""
    t = time.perf_counter()
    import empdia_iceberg_spark as engine

    ctx.layer["session.import_s"] = time.perf_counter() - t
    t = time.perf_counter()
    ctx.spark = engine.get_spark()
    ctx.layer["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    ctx.spark.range(1000).selectExpr("sum(id)").collect()
    ctx.layer["session.first_action_s"] = time.perf_counter() - t
    ctx.tracer.bind(ctx.spark)


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    """VmHWM of the driver JVM."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, wait for the JVM to exit, and wait for the Python
    workers it started (killing any still there after 30 s)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in workers:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


class Context:
    """What a workload gets: the session, the tracer, its seed and
    scale, a private data directory, and the op log it fills."""

    def __init__(self, args, run_dir: str, tracer):
        self.seed = args.seed
        self.scale = args.scale
        self.plant_wrong = args.plant_wrong
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.table_root = os.environ["SPARK_GRAFT_TABLE_ROOT"]
        self.tracer = tracer
        self.spark = None
        self.layer: dict[str, float] = {}
        self.ops: list[dict] = []  # timed ops: kind, cls, ms, ok
        self.warmup_ms: dict[str, float] = {}
        self.warmup_failed = 0
        self.errors: list[str] = []
        self.reference_s = 0.0  # the benchmark's own answer computations
        self.window_s = 0.0

    def record(self, kind: str, cls: str, ms: float, ok: bool, timed: bool, err: str | None = None):
        if err and len(self.errors) < 20:
            self.errors.append(f"{kind}: {err}")
        if timed:
            self.ops.append({"kind": kind, "cls": cls, "ms": ms, "ok": ok})
        else:
            self.warmup_ms[kind] = ms
            self.warmup_failed += not ok


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if not os.path.isfile(os.path.join(ROOT, "empdia_iceberg_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    contract = load_contract()
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = host_settings(run_dir, bool(args.trace))
    os.environ.update(env)
    sys.path.insert(0, ROOT)

    import stats
    from spans import Tracer, attach_event_log

    tracer = Tracer(bool(args.trace))
    ctx = Context(args, run_dir, tracer)
    if args.workload == "analytics":
        from analytics import Analytics as W
    else:
        from lake_rw import LakeRW as W

    start_session(ctx)
    pid = jvm_pid(ctx.spark)
    work = W(ctx)
    try:
        work.setup()  # fixtures, reference answers (timed apart) and warm-up
        setup_s = time.perf_counter() - T_START - ctx.reference_s
        work.run(args.seconds)
        work.finish()
        ctx.layer["session.jvm_peak_rss_mb"] = peak_rss_mb(pid)
    finally:
        stop_session(ctx.spark)

    attempted = len(ctx.ops)
    failed = sum(1 for o in ctx.ops if not o["ok"])
    lat = [o["ms"] for o in ctx.ops if o["ok"]]
    by_kind = stats.group(ctx.ops, "kind")
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": stats.median(lat),
        "op_geomean_ms": stats.geomean(stats.median(v) for v in by_kind.values()),
        "ops_per_s": stats.mix_rate(by_kind),
    }
    correct = failed == 0 and ctx.warmup_failed == 0 and not work.end_failures
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "error_rate": failed / attempted if attempted else 1.0,
        "warmup_failed": ctx.warmup_failed, "end_check_failures": work.end_failures,
        "errors": ctx.errors,
        "window_s": ctx.window_s, "reference_s": ctx.reference_s,
        "warmup_ms": ctx.warmup_ms,
        "op_ms": stats.summary(lat),
        "by_kind_ms": {k: stats.summary(v) for k, v in by_kind.items()},
        "by_class_ms": {k: stats.summary(v) for k, v in stats.group(ctx.ops, "cls").items()},
        "ops": [[o["kind"], round(o["ms"], 1), o["ok"]] for o in ctx.ops],
        "session": {k: v for k, v in ctx.layer.items() if k.startswith("session.")},
        "settings": {k: env[k] for k in sorted(env)},
        "e2e": e2e,
    }
    if args.trace:
        attach_event_log(tracer, os.path.join(run_dir, "eventlog"))
        tracer.write(os.path.join(run_dir, "spans.json"), T_START)
        ctx.layer.update(work.layer_metrics())
        ctx.layer.update({f"traced.{k}": v for k, v in e2e.items()})
        detail["spans"] = len(tracer.spans)
        wanted = contract["per_layer"]
    else:
        wanted = contract["end_to_end"]
    values = dict(e2e, **ctx.layer)
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    detail["unmeasured"] = sorted(m["name"] for m in wanted if m["name"] not in values)
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1, default=float)
    for name in os.listdir(run_dir):  # keep only report.json and spans.json
        full = os.path.join(run_dir, name)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
