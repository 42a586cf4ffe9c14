"""Benchmark launcher: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload etl_medallion --seed 1 --seconds 10 --trace 0

``--workload all`` runs the three workloads one after another in this
process. With ``--trace 0`` the last stdout line is a JSON object with
the end-to-end metrics; with ``--trace 1`` the same ops run with spans
around every engine call and the line carries the per-layer metrics.
Lines before it are a readable report (``# name value unit``), which
also names the workload-specific figures. Run from the repository root.

The launcher pins the environment before the JVM starts: Spark sees
every CPU this process may use, a driver heap well below physical
memory, and a fresh work root (Spark local dirs, temp files, all
tables and stores) that is deleted when the run ends. Results and span
trees are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
import uuid
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3

#: End-to-end metrics: (unit, better). Printed with --trace 0.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_mean_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}


def _per_layer() -> dict[str, str]:
    """Per-layer metrics: name → unit. Printed with --trace 1; a layer
    a workload does not use reads 0."""
    from perfbench.workloads import QUERY_MIX

    m = {
        "session.start_s": "s",
        "setup.warmup_s": "s",
        "catalog.load_s": "s",
        "queries.plan_s": "s",
        "queries.exec_s": "s",
    }
    m.update({f"queries.{q}.p50_s": "s" for q in QUERY_MIX})
    m.update(
        {
            "driver.self_s": "s",
            "spark.sched_wait_s": "s",
            "ingest.plan_s": "s",
            "medallion.bronze_s": "s",
            "medallion.silver_s": "s",
            "medallion.optimize_s": "s",
            "medallion.gold_s": "s",
            "medallion.files_written": "count",
            "medallion.bytes_written": "bytes",
            "quality.plan_s": "s",
            "quality.rows_in": "count",
            "quality.rows_rejected": "count",
            "ml.fit_s": "s",
            "dedup.exact_s": "s",
            "dedup.hash_s": "s",
            "dedup.probe_s": "s",
            "dedup.store_append_s": "s",
            "dedup.candidate_pairs": "count",
            "dedup.verified_pairs": "count",
            "dedup.candidate_precision": "ratio",
            "dedup.recall": "ratio",
            "versioned.read_s": "s",
            "versioned.write_s": "s",
            "versioned.bytes_written_per_batch_byte": "ratio",
            "stores.read_s": "s",
            "stores.files": "count",
            "stores.bytes": "bytes",
            "similarity.append_s": "s",
            "similarity.probe_s": "s",
            "similarity.code_rows_read_per_query": "count",
            "similarity.rerank_rows_per_query": "count",
            "similarity.recall_at_10": "ratio",
            "storage.stored_bytes_per_input_byte": "ratio",
            "op.self_s": "s",
        }
    )
    for c, unit in SPARK_TOTALS.items():
        m[f"spark.{c}"] = unit
    for layer in SPARK_LAYERS:
        m[f"{layer}.spark.executor_cpu_s"] = "s"
        m[f"{layer}.spark.tasks"] = "count"
    return m


SPARK_TOTALS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "input_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
}
SPARK_LAYERS = (
    "catalog",
    "queries",
    "ingest",
    "medallion",
    "quality",
    "ml",
    "dedup",
    "versioned",
    "similarity",
)


@dataclass
class OpRecord:
    client: int
    op_id: int
    start: float  # seconds since the window opened
    end: float
    ok: bool
    parts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def pin_env(work: str) -> dict:
    """Environment the engine and Spark read at launch."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            mem_mb = min(mem_mb, int(limit) // 2**20)
    except OSError:
        pass
    driver_mb = max(1024, min(2048, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    for d in ("spark-local", "tmp", "scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_MASTER=f"local[{cpus}]",
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
        TMPDIR=tmp,
        # every JVM spark-submit starts: temp files in the work root and
        # no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    import tempfile

    tempfile.tempdir = None
    return {"cpus": cpus, "mem_mb": mem_mb, "driver_mem_mb": driver_mb}


def start_session(env: dict, work: str):
    from lab3_lakehouse_spark.session import build_session

    return build_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage for the traced run's attribution
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            # a fixed, pre-touched heap: peak RSS then moves with native
            # and Python memory, not with when G1 chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{env['driver_mem_mb']}m -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(pid: int) -> tuple[float, float]:
    """Peak resident memory (MB) of this Python process and of the
    driver JVM ``pid``."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def closed_loop(wl, seconds: float) -> list[OpRecord]:
    """Each client sends its next op when the previous one returns,
    until the window closes; an op in flight at the close completes."""
    records: list[OpRecord] = []
    lock = threading.Lock()
    ids = itertools.count()
    t0 = time.perf_counter()

    def client(c: int) -> None:
        i = 0
        while time.perf_counter() - t0 < seconds:
            with lock:
                op_id = next(ids)
            ctx = wl.prepare(op_id)
            a = time.perf_counter()
            ok, parts = True, {}
            try:
                parts = wl.op(c, i, op_id, ctx)
            except Exception:  # one failed op must not end the run
                traceback.print_exc()
                ok = False
            b = time.perf_counter()
            with lock:
                records.append(OpRecord(c, op_id, a - t0, b - t0, ok, parts))
            i += 1

    threads = [threading.Thread(target=client, args=(c,)) for c in range(wl.clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return records


def layer_metrics(wl, tracer, ops, session_s: float, warmup_s: float) -> dict:
    """Per-layer metrics of a traced run: times and Spark counters per
    measured op, then the workload's own counts and ratios."""
    from perfbench import trace

    n = max(1, len(ops))
    spans = tracer.spans
    out = {name: 0.0 for name in _per_layer()}
    out["session.start_s"] = session_s
    out["setup.warmup_s"] = warmup_s
    for name, self_s in trace.name_totals(spans).items():
        key = f"{name}_s"
        if key in out:
            out[key] = self_s / n
    layers = trace.layer_totals(spans)
    out["op.self_s"] = layers.get("op", {}).get("self_s", 0.0) / n
    for c in SPARK_TOTALS:
        out[f"spark.{c}"] = sum(v.get(c, 0.0) for v in layers.values()) / n
    for layer in SPARK_LAYERS:
        out[f"{layer}.spark.executor_cpu_s"] = layers.get(layer, {}).get("executor_cpu_s", 0.0) / n
        out[f"{layer}.spark.tasks"] = layers.get(layer, {}).get("tasks", 0.0) / n
    out["spark.sched_wait_s"] = sum(v.get("sched_wait_s", 0.0) for v in layers.values()) / n
    out["driver.self_s"] = trace.driver_self_s(spans) / n
    out.update(wl.layer_metrics(ops))
    return out


def run_workload(name: str, args, env: dict, work: str) -> dict:
    """Set up, warm up, measure and check one workload; returns the
    result record (also written to ``.perfbench_out``)."""
    from perfbench.trace import Tracer
    from perfbench.workloads import SIZES, WORKLOADS

    phases = {}
    t = time.perf_counter()
    spark = start_session(env, work)
    session_s = phases["session"] = time.perf_counter() - t
    try:
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[name](spark, tracer, args.seed, SIZES[args.size])
        setups = []
        for r in range(SETUP_REPEATS):
            root = os.path.join(work, name, f"setup{r}")
            t = time.perf_counter()
            wl.setup(root)
            setups.append(time.perf_counter() - t)
            if r < SETUP_REPEATS - 1:
                shutil.rmtree(root, ignore_errors=True)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = phases["warmup"] = time.perf_counter() - t
        phases["setup"] = sum(setups)

        hooks = wl.trace_hooks() if args.trace else []
        for mod, attr, span_name in hooks:
            setattr(mod, attr, tracer.wrap(span_name, getattr(mod, attr)))
        tracer.enabled = bool(args.trace)
        t = time.perf_counter()
        try:
            records = closed_loop(wl, args.seconds)
            phases["window"] = time.perf_counter() - t
        finally:
            tracer.enabled = False
            for mod, attr, _ in hooks:
                setattr(mod, attr, getattr(mod, attr).__wrapped__)
        # memory peaks before the checks, which load results into Python
        py_mb, jvm_mb = peak_rss_mb(jvm_pid(spark))
        tracer.attribute_spark()

        ops = sorted((r for r in records if r.ok), key=lambda r: r.start)
        t = time.perf_counter()
        # checks cover warm-up ops too; a failed check fails the run
        # even when no measured op ran the code it caught
        wrong, failed_checks = wl.check(records)
        phases["check"] = time.perf_counter() - t
        failed = sum(1 for r in records if not r.ok or r.op_id in wrong)
        secs = [o.seconds for o in ops]
        e2e = {
            "setup_s": session_s + statistics.median(setups),
            "op_mean_s": statistics.mean(secs) if secs else 0.0,
            "ops_per_s": len(ops) / max(o.end for o in ops) if ops else 0.0,
            "peak_rss_mb": py_mb + jvm_mb,
        }
        report = {
            "setup_s": (e2e["setup_s"], "s"),
            "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
            "error_rate": (failed / max(1, len(records)), "ratio"),
            **wl.report(ops),
        }
        per_layer = layer_metrics(wl, tracer, ops, session_s, warmup_s) if args.trace else {}
        import pyspark

        result = {
            "workload": name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "size": args.size,
            "env": {
                "cpus": env["cpus"],
                "mem_mb": env["mem_mb"],
                "driver_mem_mb": env["driver_mem_mb"],
                "spark": pyspark.__version__,
                "python": sys.version.split()[0],
            },
            "clients": wl.clients,
            "setup_repeats_s": setups,
            "rss_mb": {"python": py_mb, "jvm": jvm_mb},
            "phases_s": phases,
            "ops": [[o.start, o.seconds, o.parts.get("query", "")] for o in ops],
            "warmup_s": warmup_s,
            "attempted": len(records),
            "failed": failed,
            "failed_checks": failed_checks,
            "correct": failed == 0 and failed_checks == 0,
            "end_to_end": e2e,
            "report": {k: v for k, (v, _) in report.items()},
            "report_units": {k: u for k, (_, u) in report.items()},
            "per_layer": per_layer,
        }
        os.makedirs(OUT_DIR, exist_ok=True)
        stem = os.path.join(OUT_DIR, f"{name}-seed{args.seed}-trace{args.trace}")
        if args.trace:
            tracer.dump(stem + "-spans.jsonl")
        with open(stem + ".json", "w") as f:
            json.dump(result, f, indent=1)
        return result
    finally:
        stop_session(spark)


def print_report(res: dict) -> None:
    print(
        f"# workload={res['workload']} seed={res['seed']} seconds={res['seconds']}"
        f" trace={res['trace']} clients={res['clients']} cpus={res['env']['cpus']}"
        f" mem_mb={res['env']['mem_mb']} driver_mem_mb={res['env']['driver_mem_mb']}"
        f" spark={res['env']['spark']} attempted={res['attempted']} failed={res['failed']}"
        f" failed_checks={res['failed_checks']}"
    )
    for k, v in res["report"].items():
        print(f"# {k} {v:.6g} {res['report_units'][k]}")
    if res["trace"]:
        units = _per_layer()
        for k, v in res["per_layer"].items():
            print(f"# {res['workload']} {k} {v:.6g} {units[k]}")
        untraced = os.path.join(OUT_DIR, f"{res['workload']}-seed{res['seed']}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            for k, (unit, _) in END_TO_END.items():
                if k not in base:  # written by an older benchmark version
                    continue
                delta = res["end_to_end"][k] - base[k]
                print(f"# tracing overhead {k} {delta:+.6g} {unit} (traced - untraced)")


def result_line(res: dict) -> dict:
    if res["trace"]:
        units = _per_layer()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["per_layer"].items()}
    else:
        metrics = {
            k: {"value": v, "unit": END_TO_END[k][0]} for k, v in res["end_to_end"].items()
        }
    return {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("standard", "tiny"), default="standard")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import lab3_lakehouse_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_DIR, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    env = pin_env(work)
    try:
        results = []
        for n in names:
            res = run_workload(n, args, env, work)
            print_report(res)
            results.append(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_DIR) and not os.listdir(WORK_DIR):
            os.rmdir(WORK_DIR)
    if len(results) == 1:
        print(json.dumps(result_line(results[0])))
    else:
        print(json.dumps({r["workload"]: result_line(r) for r in results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
