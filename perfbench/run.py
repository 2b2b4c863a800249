"""Benchmark for the ht_ner_spark KG pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kg-synth --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One run starts a local[nproc] Spark session, builds the workload's input
from --seed, warms up, then times the operations that fit in --seconds (at
least one) and checks every operation's output. The last stdout line is one JSON
object {correct, attempted, failed, metrics}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
The line before it is a report: workload properties, host record, the
named metrics that are not in BENCHMARK.json, and check details.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3
DRIVER_MEMORY = "3g"


def _percentile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def tail(xs: list[float]) -> dict:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(xs)
    p = math.floor(100 * (1 - 10 / n)) if n > 10 else None
    return {"percentile": p, "samples": n,
            "value_s": _percentile(xs, p / 100) if p else None}


def _env(root: str, work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's work directory, and let Python workers import the package."""
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [root, HERE]


def start_session(work: str, slots: int, event_dir: str | None = None):
    from ht_ner_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "sql-warehouse"),
    }
    if event_dir:
        from tracing import event_log_conf

        conf.update(event_log_conf(event_dir))
    spark = get_spark("perfbench", cores=slots, shuffle_partitions=max(8, 2 * slots),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait for every child process."""
    import host
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = SparkContext._jvm = None
    host.reap_descendants()


def _measure(wl, seconds: float, span) -> tuple[list, list[str]]:
    """Timed operations within `seconds`: the first always runs, a later one
    only when the previous operation's cycle says it ends inside the window.
    A count that flips with the host's speed would move the median more
    than the speed itself."""
    results, errors = [], []
    t0 = time.monotonic()
    cycle = 0.0
    while not results or time.monotonic() - t0 + cycle <= seconds:
        t = time.monotonic()
        try:
            results.append(wl.op(span))
        except Exception as e:  # the run goes on to report the failure
            traceback.print_exc()
            errors.append(f"{type(e).__name__}: {e}")
            break
        cycle = time.monotonic() - t
    return results, errors


def run(args, root: str, work: str) -> tuple[dict, dict]:
    import host
    from workloads import WORKLOADS, no_span, median

    slots = host.nproc()
    cls = WORKLOADS[args.workload]
    pool = ThreadPoolExecutor(1)
    rss = host.RssSampler()
    t0 = time.monotonic()
    # a pure-Python reference for the output checks, computed while the
    # JVM starts (the main thread mostly waits for it)
    expected = pool.submit(cls.reference(args.seed, args.size)) \
        if hasattr(cls, "reference") else None
    spark = start_session(work, slots)
    session_s = time.monotonic() - t0
    wl = None
    try:
        wl = cls(spark, args.seed, work, args.size, os.path.join(root, ".perfbench_state"))
        wl.expected = expected
        prep = []
        for _ in range(SETUP_REPEATS):
            t = time.monotonic()
            wl.prepare()
            prep.append(time.monotonic() - t)
        t = time.monotonic()
        wl.warmup()
        warm_s = time.monotonic() - t
        setup_s = session_s + median(prep) + warm_s

        if expected is not None:
            expected.result()  # done before the timed window, not in it
        rss.reset()
        window = host.HostWindow(slots)
        results, errors = _measure(wl, args.seconds, no_span)
        host_rec = window.record()
        peak_rss_mb = rss.peak / 1e6
        errors += wl.finish(results)
        report = wl.report()
        props = dict(wl.props)
        if args.trace:
            layer, trace_path, traced, t_errors = _traced_phase(args, wl, work, slots, results)
    finally:
        rss.close()
        pool.shutdown()
        stop_jvm(wl.spark if wl else spark)

    walls = [r.wall_s for r in results]
    reads = [x for r in results for x in r.read_s]
    cpus = [r.cpu_s for r in results]
    read_cpus = [x for r in results for x in r.read_cpu_s]
    tps = [r.triples / r.wall_s for r in results if r.wall_s > 0]
    if args.trace:
        results, errors = results + traced, errors + t_errors
    attempted = len(results) + len(errors)
    failed = sum(1 for r in results if r.problems) + len(errors)
    if errors and args.workload == "kg-stream":
        failed = attempted  # a wrong merged read spoils every step before it
    named = {
        "triples_per_s": {"value": median(tps), "unit": "1/s"},
        "ingest_p50_s": {"value": median(walls), "unit": "s"},
        "read_p50_s": {"value": median(reads), "unit": "s"},
        "ingest_tail_s": {**tail(walls), "unit": "s"},
        "error_rate": {"value": failed / attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        **{k: {"value": v, "unit": "ratio"} for k, v in report.items()
           if k.endswith(("precision", "recall"))},
    }
    rep = {
        "report": args.workload, "seed": args.seed, "size": args.size,
        "operations": len(walls), "properties": props, "host": host_rec,
        "setup": {"session_s": session_s, "prepare_s": prep, "warmup_s": warm_s},
        "op_wall_s": walls, "op_cpu_s": cpus, "read_s": reads, "read_cpu_s": read_cpus,
        "named_metrics": named,
        "checks": {"problems": sorted({p for r in results for p in r.problems}),
                   "errors": errors},
        **{k: v for k, v in report.items() if not k.endswith(("precision", "recall"))},
    }
    if args.trace:
        from tracing import layer_metric_units

        rep["trace_file"] = os.path.relpath(trace_path, root)
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                   for k, (u, _) in layer_metric_units().items()}
    else:
        e2e = {
            "setup_s": (setup_s, "s"),
            # CPU time adds up, and the JVM's background work (GC, JIT)
            # lands in whichever operation it overlaps: totals over the
            # window, per operation, not medians
            "triples_per_cpu_s": (_ratio(sum(r.triples for r in results), sum(cpus)), "1/s"),
            "ingest_cpu_s": (_ratio(sum(cpus), len(cpus)), "s"),
            "read_cpu_s": (_ratio(sum(read_cpus), len(read_cpus)), "s"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return rep, result


def _traced_phase(args, wl, work: str, slots: int, untraced: list):
    """Restart the Spark context with the event log on (same, already warm
    JVM), rebuild the input, then time the same operations with the
    wrappers in place. Returns (per-layer metrics, trace file path, traced
    results, errors)."""
    from tracing import Tracer, layer_table, load_event_log
    from workloads import median

    event_dir = os.path.join(work, "events")
    wl.spark.stop()
    wl.rebind(start_session(work, slots, event_dir=event_dir))
    wl.prepare()
    wl.rewarm()
    tr = Tracer()
    tr.install()
    try:
        traced, errors = _measure(wl, args.seconds, tr.span)
    finally:
        tr.uninstall()
    errors += wl.finish(traced)
    table = wl.layer_counts()
    wl.spark.stop()  # flushes and closes the event log
    jobs, tasks = load_event_log(event_dir)
    table.update(layer_table(tr, jobs, tasks, slots))
    plain = median([r.wall_s for r in untraced])
    table["trace.overhead_s"] = median([r.wall_s for r in traced]) - plain
    table["trace.overhead_share"] = table["trace.overhead_s"] / plain if plain else 0.0
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"spans": tr.spans, "layers": table, "properties": wl.props,
                   "jobs": len(jobs), "tasks": len(tasks)}, f, default=str)
    _print_table(table)
    return table, path, traced, errors


def _print_table(table: dict) -> None:
    from tracing import STAGE_FIELDS, STAGES

    cols = list(STAGE_FIELDS)
    print("layer      " + " ".join(f"{c:>16}" for c in cols), file=sys.stderr)
    for st in STAGES:
        print(f"{st:<10} " + " ".join(f"{table.get(f'{st}.{c}', 0):>16.3f}" for c in cols),
              file=sys.stderr)
    staged = {f"{s}.{c}" for s in STAGES for c in cols}
    for k, v in table.items():
        if k not in staged:
            print(f"{k:<28} {v:.4f}", file=sys.stderr)


def smoke() -> int:
    """Every workload at tiny size, untraced and traced: each must end with
    a correct result line that carries every metric of BENCHMARK.json with
    its unit."""
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from workloads import WORKLOADS

    bad = []
    for name in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                bad.append(f"{name} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want or not res["correct"] or res["failed"]:
                bad.append(f"{name} trace={trace}: {lines[-1][:500]}")
            print(f"smoke {name} trace={trace}: {len(got)} metrics, "
                  f"correct={res['correct']}", flush=True)
    for b in bad:
        print("SMOKE FAILURE", b, file=sys.stderr)
    return 1 if bad else 0


def main(argv=None) -> int:
    from workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at tiny size and check the metric set")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ht_ner_spark", "pipeline.py")):
        print("perfbench: run from the root of a checkout of the repository "
              "(ht_ner_spark/ not found here)", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _env(root, work)
    try:
        rep, result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(rep, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
