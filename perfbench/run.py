"""End-to-end benchmark of the mobility and corpus pipelines.

    python3 perfbench/run.py --workload mobility_staged --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout. One closed-loop client in this
process drives one workload on ``local[<cores>]``: a warm-up
iteration, then iterations back to back for ``--seconds``. Every
iteration's outputs are checked against the planted truth of the
seeded inputs. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics (traced and untraced iterations
alternate, and their wall-time difference is ``trace_overhead_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
#: at least this many measured iterations of each kind
MIN_ITERS = 2
#: no new iteration starts after this many seconds of the run
HARD_CAP_S = 110.0
LAYERS = ("ingest", "stops", "cluster", "label", "dedup", "filter", "pack")
GENERIC = (
    "wall_s", "driver_s", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "tasks", "skew", "rows_out",
)
#: layer-specific metrics, from stage metrics or from counters read
#: off the layer's outputs and boundary actions
SPECIFIC = (
    "ingest.read_mb", "ingest.write_mb", "ingest.files_out",
    "ingest.rows_dropped", "stops.events", "stops.stop_ping_share",
    "cluster.max_group", "cluster.python_mb", "label.homes", "label.works",
    "label.hw_match_share", "dedup.pairs", "dedup.removed",
    "dedup.dup_recall", "pack.python_mb",
)


def spark_env(cpus: int) -> None:
    """Point the program, its Python workers and Spark's scratch
    space at this checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(cpus: int):
    """Session start through a first trivial action, as every CLI
    stage pays it. Returns ``(spark, seconds)``."""
    import numpy  # noqa: F401  (imported before the clock, as in the run)
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    t0 = time.perf_counter()
    from polaroam_spark import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # the program's own heap settings; only the JVM's scratch
            # files are kept inside the checkout
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
        },
    )
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so
    Spark's Python daemon and workers, left behind when the JVM exits,
    are re-parented here and can be waited for."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _exit_on_signal(signum, frame) -> None:
    # raise in the main thread so that ``stop_processes`` still runs
    sys.exit(128 + signum)


def _reap() -> None:
    """Collect every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes(grace_s: float = 10.0, term_s: float = 10.0) -> None:
    """Stop the Spark session and its JVM, then every descendant still
    running, and wait until each has ended. Descendants get ``grace_s``
    to exit on their own, then SIGTERM, then after ``term_s`` more,
    SIGKILL."""
    import tracing

    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception as e:  # the JVM is stopped below regardless
                print(f"perfbench: stopping Spark: {e}", file=sys.stderr)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin reaches end of file
            proc.stdin.close()
            try:
                proc.wait(timeout=grace_s + term_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # ended descendants stay listed until reaped, by this process or
    # by their own parent, so the loop waits for those too
    me = os.getpid()
    t0 = time.monotonic()
    while True:
        _reap()
        left = [p for p in tracing.tree_pids() if p != me]
        if not left:
            return
        waited = time.monotonic() - t0
        if waited >= grace_s:
            sig = signal.SIGTERM if waited < grace_s + term_s else signal.SIGKILL
            for pid in filter(_running, left):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def end_to_end(measured, setup_s: float, py_peak_rss_mb: float, jvm_live_mb: float,
               input_rows: int, attempted: int, failed: int) -> dict:
    wall = med(i.wall_s for i in measured)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": input_rows / wall if wall > 0 else 0.0,
        "cpu_s": med(i.cpu_s for i in measured),
        "py_peak_rss_mb": py_peak_rss_mb,
        "jvm_live_mb": jvm_live_mb,
        "write_mb": med(i.write_bytes for i in measured) / 1e6,
        "ok_share": 1.0 - failed / max(1, attempted),
        "truth_match_share": med(i.truth_share for i in measured),
    }


def per_layer(traced, untraced, rest: dict, tracer, extra: dict) -> dict:
    """Median over traced iterations of every layer metric; layers
    the workload does not run report 0."""
    rows = []
    for it in traced:
        row = {}
        for s in tracer.children(it.span):
            m = dict(rest.get(s.span_id, {}))
            m["wall_s"] = s.wall
            for k, v in m.items():
                key = f"{s.name}.{k}"
                row[key] = max(row.get(key, 0.0), v) if k == "skew" else row.get(key, 0.0) + v
        for layer, counters in it.counters.items():
            for k, v in counters.items():
                row[f"{layer}.{k}"] = v
        row["pipeline.self_s"] = tracer.self_time(it.span)
        rows.append(row)
    names = [f"{l}.{g}" for l in LAYERS for g in GENERIC] + list(SPECIFIC)
    names.append("pipeline.peak_rss_mb")
    out = {n: med(r.get(n, 0.0) for r in rows) for n in names}
    out.update(extra)
    out["pipeline.self_s"] = med(r["pipeline.self_s"] for r in rows)
    out["trace_overhead_s"] = med(i.wall_s for i in traced) - med(i.wall_s for i in untraced)
    return out


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_json(spec: dict, values: dict, trace: bool, attempted: int, failed: int) -> dict:
    """The contract line: exactly the metrics BENCHMARK.json names
    for this mode, each with its unit."""
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in spec["per_layer" if trace else "end_to_end"]
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def run_all(names: list[str], args) -> int:
    """Each workload in a fresh process, one after another; their
    metric tables and result lines are printed under a header."""
    worst = 0
    for name in names:
        print(f"== {name}", flush=True)
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT,
        )
        worst = max(worst, p.returncode)
    return worst


def run_workload(args, cpus: int, spec: dict, workload):
    """One workload's run: inputs, session start, warm-up, measured
    iterations and checks. Returns ``(result, traced, untraced)``,
    the contract line and the iteration counts."""
    import gen
    import tracing

    t_run = time.monotonic()
    gen.materialize(args.workload, args.seed, WORK)
    t_gen = time.monotonic()
    spark, setup_s = start_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    tracer = tracing.Tracer(spark, run_id)
    wl = workload(spark, ROOT, WORK, args.seed, tracer)

    t_warm = time.monotonic()
    warm = wl.iterate(traced=False, full_checks=True)
    measured = []
    with tracing.RssSampler() as rss:
        t0 = time.monotonic()
        while True:
            traced = bool(args.trace) and len(measured) % 2 == 0
            measured.append(wl.iterate(traced=traced, full_checks=False))
            n_tr = sum(1 for i in measured if i.span is not None)
            n_un = len(measured) - n_tr
            enough = n_un >= MIN_ITERS and (not args.trace or n_tr >= MIN_ITERS)
            if (enough and time.monotonic() - t0 >= args.seconds) or (
                time.monotonic() - t_run > HARD_CAP_S
            ):
                break

    attempted = failed = 0
    for it in [warm] + measured:
        attempted += it.calls + len(it.checks)
        failed += it.failures + sum(1 for c in it.checks if not c[1])
        if it.error:
            print(f"perfbench: stage failed: {it.error}", file=sys.stderr)
        for name, ok, detail in it.checks:
            if not ok:
                print(f"perfbench: check {name} failed: {detail}", file=sys.stderr)

    traced_its = [i for i in measured if i.span is not None]
    untraced_its = [i for i in measured if i.span is None]
    if args.trace:
        rest = tracing.layer_metrics(tracing.StatusApi(spark), tracer.spans)
        for s in tracer.spans:
            s.counters.update(rest.get(s.span_id, {}))
        extra = {"pipeline.peak_rss_mb": rss.peak_mb}
        if args.workload == "corpus_curate":
            extra["dedup.pairs"] = wl.pair_count()
        values = per_layer(traced_its, untraced_its, rest, tracer, extra)
        tracer.write(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
    else:
        values = end_to_end(
            untraced_its, setup_s, rss.py_peak_mb, tracing.jvm_live_heap_mb(spark),
            wl.truth["rows"], attempted, failed,
        )
    t_end = time.monotonic()
    print(
        f"perfbench: phases inputs {t_gen - t_run:.1f}s, setup {setup_s:.2f}s, "
        f"setup+inputs {t_warm - t_run:.1f}s, warm-up "
        f"{t0 - t_warm:.1f}s, measured {t_end - t0:.1f}s "
        f"(iteration walls {[round(i.wall_s, 2) for i in measured]}, "
        f"warm-up {warm.wall_s:.2f}s), tree peak RSS {rss.peak_mb:.0f} MB",
        file=sys.stderr,
    )
    out = result_json(spec, values, bool(args.trace), attempted, failed)
    return out, len(traced_its), len(untraced_its)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="all",
                   help="one workload, or 'all' to run each in turn")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    cpus = len(os.sched_getaffinity(0))

    missing = [
        f for f in ("BENCHMARK.json", "polaroam_spark/__init__.py",
                    "tests/fixtures/mini_gpt2/vocab.json")
        if not os.path.exists(os.path.join(ROOT, f))
    ]
    if missing:
        print(f"perfbench: not a polaroam_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    spark_env(cpus)

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(sorted(WORKLOADS), args)
    if args.workload not in WORKLOADS:
        p.error(f"--workload must be 'all' or one of {sorted(WORKLOADS)}")
    spec = load_spec()
    become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    try:
        out, n_traced, n_untraced = run_workload(args, cpus, spec, WORKLOADS[args.workload])
    finally:
        stop_processes()
    for name, m in out["metrics"].items():
        print(f"{name:32s} {m['value']:>16.6g} {m['unit']}")
    print(f"iterations: warm-up 1, traced {n_traced}, untraced {n_untraced}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
