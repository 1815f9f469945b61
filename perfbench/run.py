#!/usr/bin/env python3
"""Benchmark of the Leiden link-graph engine: one workload per process.

    python3 perfbench/run.py --workload planted_sweep --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts one ``local[4]`` Spark
session through the engine's own ``get_spark``, builds the workload's input
from ``--seed``, runs untimed warm-up reps (the first rep in a new JVM pays
for most of the JIT compilation), then times reps until ``--seconds`` have
passed, checks every result and prints one JSON line last:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on Spark's
event log and JVM/``/proc`` polling, prints a per-layer table and reports
the per-layer metrics instead. Everything the run writes goes under
``.bench_work/`` in the checkout and is removed at the end, except
``.bench_work/history.jsonl``, which lets a traced run report its overhead
against earlier untraced runs of the same workload and code. See
perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "leiden_communities_openmp_spark"

CORES = 4                 # local[4]
# Pinned, so the heap does not track free host memory, and small enough that
# both workloads grow it to the cap: with a 3g cap the JVM's resident peak
# ranged from 1.0 to 1.5 GB between runs of the same work.
DRIVER_MEM = "1g"
WARMUP_REPS = 1
MAX_TIMED_REPS = 8
# a traced run times at least two reps made the same way, so that
# repeat_checks has a pair to compare
MIN_TRACED_REPS = 2
DEADLINE_S = 170          # a run must end within 180 s

MB = 2**20

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``; must run before pyspark starts the JVM."""
    for d in ("local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM, the spark-submit launcher too: temp files under work/, and
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = shlex.join(
        ["-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")])
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def _on_term(signum, frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def shutdown(spark, tree) -> None:
    """Stop Spark, let the JVM exit, and wait for every process the run
    started (the Python worker daemons outlive the JVM briefly)."""
    pids = set(tree.pids()) - {os.getpid()}
    try:
        spark.stop()
    finally:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        end = time.monotonic() + 20
        while pids and time.monotonic() < end:
            pids = {p for p in pids if _alive(p)}
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{os.getpid()}")
    configure_env(work, bool(args.trace))
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, _on_term)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args, work, WORKLOADS[args.workload], bench_dir)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run(args, work: str, workload_cls, bench_dir: str) -> dict:
    import eventlog
    from proctree import Poller, ProcessTree, host_steal_s
    from workloads import Tracer

    from leiden_communities_openmp_spark.session import get_spark

    trace = bool(args.trace)
    tree = ProcessTree()
    setup = {"import_s": time.perf_counter() - T_START}
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    poller = Poller(tree) if trace else None
    sample_cpu = poller.cpu if trace else tree.cpu
    jmx = eventlog.Jmx(spark) if trace else None
    tracer = Tracer(spark.sparkContext, cpu=sample_cpu if trace else None)
    wl = workload_cls(spark, tracer, args.seed, work)
    setup["session_s"] = time.perf_counter() - t0

    reps: list[dict] = []      # every rep, warm-up included
    resumed: dict = {}
    error = None
    t_timed = None

    def one_rep(warmup: bool) -> None:
        tracer.rep += 1
        c0, s0 = sample_cpu(), host_steal_s()
        j0 = jmx.sample() if jmx else None
        t0 = time.perf_counter()
        obs = wl.rep(warmup)
        wall = time.perf_counter() - t0
        c1 = sample_cpu()
        obs.update(rep=tracer.rep, timed=not warmup, wall_s=wall,
                   cpu={k: c1[k] - c0[k] for k in c1}, steal_s=host_steal_s() - s0)
        if jmx:
            j1 = jmx.sample()
            obs["jmx"] = {k: j1[k] - j0[k] for k in j1}
        reps.append(obs)

    try:
        with poller or contextlib.nullcontext():
            t0 = time.perf_counter()
            wl.build()
            setup["input_s"] = time.perf_counter() - t0
            for _ in range(WARMUP_REPS):
                one_rep(warmup=True)
            setup["warmup_s"] = sum(r["wall_s"] for r in reps)
            tracer.rep += 1
            t0 = time.perf_counter()
            resumed = dict(wl.resume(), rep=tracer.rep)
            setup["resume_s"] = time.perf_counter() - t0
            t_timed = time.perf_counter()
            while True:
                one_rep(warmup=False)
                n_timed = len(reps) - WARMUP_REPS
                done = (time.perf_counter() - t_timed >= args.seconds
                        and n_timed >= (MIN_TRACED_REPS if trace else 1))
                if done or n_timed >= MAX_TIMED_REPS:
                    break
    except Exception as exc:   # report the failure as a failed operation
        traceback.print_exc()
        error = exc
    finally:
        peak_rss = tree.peak_rss_mb()
        shutdown(spark, tree)

    timed_reps = [r for r in reps if r["timed"]]
    checks: list[tuple[str, bool]] = []
    if error is None:
        checks = wl.checks(reps, resumed, _pinned(wl.name))
    if trace and error is None:
        groups = eventlog.per_rep(eventlog.read_groups(os.path.join(work, "eventlog")))
        for r in reps:
            r["spark"] = groups.get(r["rep"], {})
        checks += repeat_checks(reps, wl.repeating)
    failed = sum(not ok for _, ok in checks) + (error is not None)
    for name, ok in checks:
        if not ok:
            print(f"perfbench: check failed: {name}", file=sys.stderr)
    if reps:
        print("perfbench: observed " + json.dumps(_observed(reps[0])), file=sys.stderr)
    print("perfbench: set-up parts " + json.dumps(setup), file=sys.stderr)
    print("perfbench: peak rss by kind " + json.dumps(tree.peak_rss_by_kind_mb()), file=sys.stderr)
    print("perfbench: reps (wall s, cpu s) " + json.dumps(
        [(round(r["wall_s"], 3), round(r["cpu"]["total"], 2)) for r in reps]), file=sys.stderr)

    if trace:
        metrics = per_layer(reps, tracer.spans, resumed)
        metrics.update({f"setup.{k}": {"value": v, "unit": "s"} for k, v in setup.items()})
        print_table(wl.name, metrics, _history_wall(bench_dir, wl.name, code_key()))
    else:
        metrics = end_to_end(timed_reps, t_timed, peak_rss)
        if not failed:
            with open(os.path.join(bench_dir, "history.jsonl"), "a") as f:
                f.write(json.dumps({"workload": wl.name, "code": code_key(), "seed": args.seed,
                                    "wall_s": metrics["wall_s"]["value"]}) + "\n")
    return {"correct": failed == 0, "attempted": max(len(checks), 1),
            "failed": failed, "metrics": metrics}


def repeat_checks(reps: list[dict], keys: tuple[str, ...]) -> list[tuple[str, bool]]:
    """Reps made the same way (with or without a checkpointer) must cause
    exactly the same Spark and Python work."""
    from eventlog import sum_layers

    out = []
    for checkpointed in (True, False):
        same = [r for r in reps if ("ckpt_mb" in r) is checkpointed]
        base = sum_layers(same[0]["spark"]) if same else None
        for r in same[1:]:
            tot = sum_layers(r["spark"])
            diff = {k: (base[k], tot[k]) for k in keys if tot[k] != base[k]}
            out.append((f"counts of rep {r['rep']} repeat rep {same[0]['rep']}: {diff}",
                        not diff))
    return out


def _pinned(name):
    """Expected results (perfbench/expected.json); seeds change the input
    bytes but not the results, so they hold for every seed."""
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f).get(name)


def _observed(rep: dict) -> dict:
    keys = ("edge_rows", "labels", "modularity", "passes", "pagerank_sum",
            "components", "lpa_labels", "triangles")
    out = {k: rep[k] for k in keys if k in rep}
    out["move_rounds"] = rep["phases"]["move_rounds"]
    return out


def _span_sum(spans, rep_no: int, layer: str, key: str = "wall_s") -> float:
    return sum(s.get(key, 0.0) for s in spans if s["rep"] == rep_no and s["layer"] == layer)


def end_to_end(timed, t_timed, peak_rss) -> dict:
    def m(value, unit):
        return {"value": value, "unit": unit}

    return {
        "setup_s": m((t_timed or time.perf_counter()) - T_START, "s"),
        "wall_s": m(median([r["wall_s"] for r in timed]), "s"),
        "cpu_s": m(median([r["cpu"]["total"] for r in timed]), "s"),
        "peak_rss_mb": m(peak_rss, "MiB"),
    }


# (metric name, unit, function of (rep, spans) -> value)
def _layer_table():
    from eventlog import sum_layers

    def sp(r, key):
        return sum_layers(r.get("spark", {}))[key]

    def span(layer, key="wall_s"):
        return lambda r, s: _span_sum(s, r["rep"], layer, key)

    def phase(key):
        return lambda r, s: r["phases"][key]

    rows = [
        ("py.cpu_s", "s", lambda r, s: r["cpu"]["python"]),
        ("py.tasks", "count", lambda r, s: sp(r, "py_tasks")),
        ("py.bytes_in_mb", "MiB", lambda r, s: sp(r, "py_bytes_in") / MB),
        ("py.bytes_out_mb", "MiB", lambda r, s: sp(r, "py_bytes_out") / MB),
        ("py.boot_task_s", "s", lambda r, s: sp(r, "py_boot_ms") / 1e3),
        ("py.init_task_s", "s", lambda r, s: sp(r, "py_init_ms") / 1e3),
        ("py.run_task_s", "s", lambda r, s: sp(r, "py_run_ms") / 1e3),
        ("leiden.wall_s", "s", span("leiden_scale")),
        # the north-rule headline: edge rows x passes / leiden_scale seconds
        ("leiden.superstep_edges_per_s", "edges/s", lambda r, s: r["edge_rows"] * r["passes"]
         / _span_sum(s, r["rep"], "leiden_scale")),
        ("leiden.cpu_s", "s", span("leiden_scale", "cpu_s")),
    ]
    from workloads import HOPS, PHASES
    rows += [(f"leiden.{p}_s", "s", phase(f"{p}_s")) for p in PHASES]
    rows.append(("leiden.unattributed_s", "s", lambda r, s: _span_sum(s, r["rep"], "leiden_scale")
                 - sum(r["phases"][f"{p}_s"] for p in PHASES)))
    rows += [(f"leiden.hop.{h}_s", "s", phase(f"hop.{h}_s")) for h in HOPS]
    rows += [
        ("leiden.passes", "count", lambda r, s: r["passes"]),
        ("leiden.move_rounds", "count", phase("move_rounds")),
        ("leiden.rows_out", "count", phase("rows_out")),
        ("spark.jobs", "count", lambda r, s: sp(r, "jobs")),
        ("spark.stages", "count", lambda r, s: sp(r, "stages")),
        ("spark.tasks", "count", lambda r, s: sp(r, "tasks")),
        ("spark.task_run_s", "s", lambda r, s: sp(r, "task_run_ms") / 1e3),
        ("spark.task_cpu_s", "s", lambda r, s: sp(r, "task_cpu_ns") / 1e9),
        ("spark.task_deser_s", "s", lambda r, s: sp(r, "task_deser_ms") / 1e3),
        ("spark.shuffle_write_mb", "MiB", lambda r, s: sp(r, "shuffle_write_bytes") / MB),
        ("spark.shuffle_read_mb", "MiB", lambda r, s: sp(r, "shuffle_read_bytes") / MB),
        ("spark.spill_mb", "MiB", lambda r, s: sp(r, "spill_bytes") / MB),
        ("jvm.cpu_s", "s", lambda r, s: r["cpu"]["jvm"]),
        ("jvm.jit_s", "s", lambda r, s: r["jmx"]["jit_s"]),
        ("jvm.gc_s", "s", lambda r, s: r["jmx"]["gc_s"]),
        ("driver.cpu_s", "s", lambda r, s: r["cpu"]["driver"]),
        ("parallel_util", "ratio", lambda r, s: r["cpu"]["total"] / (r["wall_s"] * CORES)),
        ("ingest.wall_s", "s", span("ingest")),
        ("ingest.cpu_s", "s", span("ingest", "cpu_s")),
    ]
    for name, layer in (("pagerank", "pagerank"), ("cc", "connected_components"),
                        ("lpa", "label_propagation"), ("triangles", "triangle_count")):
        rows += [(f"{name}.wall_s", "s", span(layer)), (f"{name}.cpu_s", "s", span(layer, "cpu_s"))]
    rows += [
        ("host.steal_s", "s", lambda r, s: r["steal_s"]),
        ("trace.wall_s", "s", lambda r, s: r["wall_s"]),
    ]
    return rows


def per_layer(reps, spans, resumed) -> dict:
    """Median over the timed reps of each per-layer metric. The checkpoint
    metrics come from the checkpointed warm-up rep and the resume after it;
    a workload without them reports 0."""
    timed = [r for r in reps if r["timed"]]
    out = {}
    for name, unit, fn in _layer_table():
        out[name] = {"value": median([fn(r, spans) for r in timed]), "unit": unit}
    ck = next((r for r in reps if "ckpt_mb" in r), None)

    def ckpt_spans(rep_no, layer):
        return [s["wall_s"] for s in spans if s["rep"] == rep_no and s["layer"] == layer]

    saves = ckpt_spans(ck["rep"], "ckpt.save") if ck else []
    resume_rep = resumed.get("rep")
    out.update({
        "ckpt.save_s": {"value": sum(saves), "unit": "s"},
        "ckpt.saves": {"value": len(saves), "unit": "count"},
        "ckpt.bytes_mb": {"value": ck["ckpt_mb"] if ck else 0.0, "unit": "MiB"},
        "ckpt.latest_s": {"value": sum(ckpt_spans(resume_rep, "ckpt.latest")), "unit": "s"},
        "ckpt.resume_s": {"value": sum(ckpt_spans(resume_rep, "resume")), "unit": "s"},
    })
    return out


def code_key() -> str:
    """md5 over the engine's and the benchmark's Python sources, so a traced
    run compares itself only with untraced runs of the same code."""
    h = hashlib.md5()
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for root, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _history_wall(bench_dir, name, code):
    try:
        with open(os.path.join(bench_dir, "history.jsonl")) as f:
            walls = [rec["wall_s"] for rec in map(json.loads, f)
                     if rec["workload"] == name and rec.get("code") == code]
    except OSError:
        return None
    return median(walls) if walls else None


def print_table(name, metrics, untraced_wall):
    print(f"per-layer metrics, {name} (median of timed reps, traced run)")
    for k, v in metrics.items():
        print(f"  {k:<26} {v['value']:>14.4f} {v['unit']}")
    traced = metrics["trace.wall_s"]["value"]
    if untraced_wall:
        print(f"  tracing overhead: traced rep wall {traced:.3f} s vs untraced median "
              f"{untraced_wall:.3f} s ({100 * (traced / untraced_wall - 1):+.1f}%)")
    else:
        print("  tracing overhead: no untraced run of this workload and code "
              "in .bench_work/history.jsonl")


if __name__ == "__main__":
    sys.exit(main())
