"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run starts a
local Spark session sized from this host (``local[nproc]``, a driver
heap from MemTotal), sets up the workload from ``--seed``, measures its
closed loop for ``--seconds`` and checks every operation's output. All
scratch files live under ``.perfbench_run/`` in the checkout and are
removed at the end, except the run's report
``.perfbench_run/<workload>-s<seed>-t<trace>.json``.

stdout carries a human-readable report and, as its last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics from a traced run (job group per span, Spark event log) and
prints the per-span table and the run's own tracing overhead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "vectorsearch_image_embeddings_databricks_spark"
sys.path[:0] = [HERE, ROOT]

LAYER_ROLES = {
    "query": ("vector_index.", "catalog."),
    "ann": ("ann.", "graph_ann."),
}


def _memtotal_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _source_digest() -> str:
    h = hashlib.sha1()
    for root, dirs, files in os.walk(os.path.join(ROOT, PKG)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(root, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def _commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


class Context:
    def __init__(self, args, spark, tracer, work_dir) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work_dir = work_dir
        self.setup_s = None
        self.ops: list = []
        self.messages: list = []

    def work(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        os.makedirs(path)
        return path

    def log(self, msg: str) -> None:
        self.messages.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def check_alive(self) -> None:
        """A dead SparkContext fails every operation still to come."""
        try:
            stopped = self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:  # noqa: BLE001 - py4j gone means the JVM is gone
            stopped = True
        if stopped:
            raise SessionLost("Spark session is gone")


class SessionLost(RuntimeError):
    pass


def build_session(work_dir: str, trace: bool):
    from pyspark.sql import SparkSession

    n = _nproc()
    # Only the heap's cap is fixed. The serial collector sizes the heap
    # from the live data left after each collection, where G1 grows it
    # when collections take a large share of time, which depends on how
    # busy the host is. So the JVM's share of peak_rss_mb follows what the
    # package holds: over three serve seeds on a 4-core host it ranged
    # 0.94-0.97 GB under the serial collector and 1.36-1.67 GB under G1.
    heap_mb = max(1024, min(4096, _memtotal_mb() // 8))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseSerialGC -Djava.io.tmpdir={tmp} -Dderby.system.home={work_dir}")
        .config("spark.local.dir", os.path.join(work_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        events = os.path.join(work_dir, "events")
        os.makedirs(events)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + events)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, heap_mb


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    from spans import descendants

    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


# --------------------------------------------------------------------- #
# metrics
# --------------------------------------------------------------------- #

END_TO_END = {
    "setup_s": "s", "p50_ms": "ms", "items_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "spark_jobs_per_op": "count/op", "spark_stages_per_op": "count/op",
    "executor_ms_per_op": "ms/op", "driver_ms_per_op": "ms/op",
    "shuffle_write_kb_per_op": "KB/op", "query_layer_self_ms_per_op": "ms/op",
    "ann_layer_self_ms_per_op": "ms/op",
}


def span_table(tracer) -> dict:
    """Per span name: calls, and medians per call of wall, self time, peak
    RSS, Spark counters and the span's own extra metrics."""
    rows: dict = {}
    for s in tracer.all_spans():
        r = rows.setdefault(s.name, {"calls": 0, "_v": {}})
        r["calls"] += 1
        vals = {"wall_s": s.wall, "self_s": s.self_s, "peak_rss_mb": s.peak_rss_mb,
                "driver_s": s.extra.get("driver_s", 0.0)}
        vals.update(s.extra.get("spark", {}))
        vals.update({k: v for k, v in s.extra.items()
                     if isinstance(v, (int, float)) and k != "driver_s"})
        for k, v in vals.items():
            r["_v"].setdefault(k, []).append(v)
    out = {}
    for name, r in sorted(rows.items()):
        vals = r.pop("_v")
        r.update({k: statistics.median(v) for k, v in vals.items()})
        if name.startswith("op."):
            r["jobs_repeat"] = len(set(vals.get("jobs", [0]))) == 1
            r["stages_repeat"] = len(set(vals.get("stages", [0]))) == 1
        out[name] = r
    return out


def per_layer_metrics(ops) -> dict:
    traced = [o for o in ops if o.span is not None]
    n = max(1, len(traced))
    acc = dict.fromkeys(PER_LAYER, 0.0)
    for o in traced:
        sp = o.span.extra["spark"]
        acc["spark_jobs_per_op"] += sp["jobs"]
        acc["spark_stages_per_op"] += sp["stages"]
        acc["executor_ms_per_op"] += sp["executor_s"] * 1000
        acc["shuffle_write_kb_per_op"] += sp["shuffle_write_bytes"] / 1024
        acc["driver_ms_per_op"] += o.span.extra["driver_s"] * 1000
        stack = list(o.span.children)
        while stack:
            c = stack.pop()
            stack.extend(c.children)
            for role, prefixes in LAYER_ROLES.items():
                if c.name.startswith(prefixes):
                    acc[f"{role}_layer_self_ms_per_op"] += c.self_s * 1000
    return {k: v / n for k, v in acc.items()}


def overhead(ops, untraced_report: str) -> dict:
    """Per operation kind: this traced run's median wall against the
    median of the untraced run of the same workload and seed, read from
    its report when that run was made in this checkout."""
    if not os.path.exists(untraced_report):
        return {}
    with open(untraced_report) as f:
        base = json.load(f).get("op_wall_ms", {})
    out = {}
    for kind in sorted({o.kind for o in ops}):
        t = [o.wall * 1000 for o in ops if o.kind == kind]
        if base.get(kind):
            u = statistics.median(base[kind])
            out[kind] = {"traced_ms": statistics.median(t), "untraced_ms": u,
                         "overhead": statistics.median(t) / u - 1}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG!r} not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    load_start = os.getloadavg()
    out_root = os.path.join(ROOT, ".perfbench_run")
    work_dir = os.path.join(out_root, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work_dir)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    # Everything the JVM or libraries print goes to stderr; the report
    # and the result line go to the real stdout at the end.
    result_fd = os.dup(1)
    os.dup2(2, 1)

    from spans import MemorySampler, Tracer, fold, read_event_log

    sampler = MemorySampler().start()
    spark = None
    try:
        spark, heap_mb = build_session(work_dir, bool(args.trace))
        session_s = time.perf_counter() - t_start
        tracer = Tracer(spark, sampler, bool(args.trace))
        ctx = Context(args, spark, tracer, work_dir)
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
            lost = False
        except SessionLost as e:
            ctx.log(str(e))
            res, lost = None, True
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()

    if lost:
        res = {"ops": ctx.ops, "timed_ops": [], "attempted": len(ctx.ops),
               "failed": sum(1 for o in ctx.ops if not o.ok), "p50_ms": None,
               "items_per_s": None, "report": {}, "latency_ms": []}
    ops = res["ops"]
    e2e = {
        "setup_s": ctx.setup_s,
        "p50_ms": res["p50_ms"],
        "items_per_s": res["items_per_s"], "peak_rss_mb": sampler.peak_mb,
    }
    samples = {
        "setup_s": 1, "p50_ms": len(res["latency_ms"]), "items_per_s": len(res["timed_ops"]),
        "peak_rss_mb": 1,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": _nproc(), "memtotal_mb": _memtotal_mb(),
        "driver_heap_mb": heap_mb, "peak_rss_parts_mb": sampler.peak_parts,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "commit": _commit(), "source_sha1": _source_digest(),
        "session_start_s": session_s,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k], "samples": samples[k]}
                       for k, v in e2e.items()},
        "workload_metrics": res["report"],
        "ops": {k: sum(1 for o in ops if o.kind == k) for k in sorted({o.kind for o in ops})},
        "op_wall_ms": {k: [o.wall * 1000 for o in ops if o.kind == k]
                       for k in sorted({o.kind for o in ops})},
        "attempted": res["attempted"], "failed": res["failed"],
        "error_rate": res["failed"] / max(1, res["attempted"]),
        "messages": ctx.messages,
    }
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if args.trace:
        fold(tracer, read_event_log(os.path.join(work_dir, "events")))
        report["spans"] = span_table(tracer)
        t0 = tracer.roots[0].start if tracer.roots else 0.0
        report["span_log"] = [
            {"name": sp.name, "parent": sp.parent.sid if sp.parent else None, "id": sp.sid,
             "start_s": sp.start - t0, "wall_s": sp.wall, "self_s": sp.self_s,
             "peak_rss_mb": sp.peak_rss_mb,
             **{k: v for k, v in sp.extra.items() if not k.startswith("_")}}
            for sp in tracer.all_spans()]
        report["trace_overhead"] = overhead(ops, os.path.join(
            out_root, f"{args.workload}-s{args.seed}-t0.json"))
        layer = per_layer_metrics(res["timed_ops"])
        report["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
        metrics = report["per_layer"]
    report["wall_s"] = time.perf_counter() - t_start
    shutil.rmtree(work_dir, ignore_errors=True)
    with open(os.path.join(out_root, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1, default=float)

    ok = res["failed"] == 0 and all(m["value"] is not None for m in metrics.values())
    line = {"correct": ok, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": metrics}
    with os.fdopen(result_fd, "w") as out:
        out.write(_render(report) + "\n")
        out.write(json.dumps(line, default=float) + "\n")
    return 0


def _render(report: dict) -> str:
    lines = [f"perfbench {report['workload']} seed={report['seed']} trace={report['trace']} "
             f"nproc={report['nproc']} memtotal_mb={report['memtotal_mb']} "
             f"heap_mb={report['driver_heap_mb']} commit={report['commit']} "
             f"source_sha1={report['source_sha1']}",
             f"loadavg start={report['loadavg_start']} end={report['loadavg_end']} "
             f"session_start_s={report['session_start_s']:.3f} wall_s={report['wall_s']:.1f}",
             "peak_rss_parts_mb " + " ".join(
                 f"{k}={v:.0f}" for k, v in report["peak_rss_parts_mb"].items()),
             f"attempted={report['attempted']} failed={report['failed']} "
             f"error_rate={report['error_rate']:.4f} ops={report['ops']}"]
    for title, table in (("end-to-end", report["end_to_end"]),
                         ("workload", report["workload_metrics"])):
        for name, m in table.items():
            v = "None" if m["value"] is None else f"{m['value']:.6g}"
            lines.append(f"  [{title}] {name} = {v} {m['unit']} (n={m['samples']})")
    if "spans" in report:
        lines.append("  per-span medians per call (self_s = wall minus child spans):")
        lines.append(f"    {'span':44} {'calls':>5} {'wall_s':>8} {'self_s':>8} {'driver_s':>8} "
                     f"{'jobs':>5} {'stages':>6} {'exec_s':>7} {'shufKB':>8} {'rssMB':>7}  extra")
        for name, r in report["spans"].items():
            extra = {k: round(v, 4) if isinstance(v, float) else v for k, v in r.items()
                     if k not in ("calls", "wall_s", "self_s", "driver_s", "jobs", "stages",
                                  "executor_s", "shuffle_write_bytes", "peak_rss_mb")}
            lines.append(
                f"    {name:44} {r['calls']:>5} {r['wall_s']:>8.3f} {r['self_s']:>8.3f} "
                f"{r['driver_s']:>8.3f} {r.get('jobs', 0):>5g} {r.get('stages', 0):>6g} "
                f"{r.get('executor_s', 0):>7.2f} {r.get('shuffle_write_bytes', 0) / 1024:>8.1f} "
                f"{r['peak_rss_mb']:>7.0f}  {extra}")
        if not report["trace_overhead"]:
            lines.append("  trace overhead: no untraced run of this workload and seed in this "
                         "checkout to compare with")
        for kind, o in report["trace_overhead"].items():
            lines.append(f"  trace overhead {kind}: traced {o['traced_ms']:.1f} ms vs "
                         f"untraced {o['untraced_ms']:.1f} ms ({o['overhead'] * 100:+.1f}%)")
    return "\n".join(lines)


if __name__ == "__main__":
    sys.exit(main())
