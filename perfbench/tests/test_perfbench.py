"""Self-tests of the benchmark: deterministic generators, checkers
that reject corrupted outputs, and a metric set that matches
BENCHMARK.json.

    python -m pytest perfbench/tests            # fast tests
    python -m pytest perfbench/tests -m slow    # one short real run
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- generators


@pytest.mark.parametrize("workload", sorted(gen.MOBILITY_SIZES))
def test_mobility_generator_is_deterministic(workload):
    a_cols, a_truth = gen.mobility(workload, 7)
    b_cols, b_truth = gen.mobility(workload, 7)
    assert a_truth == b_truth
    for k in a_cols:
        assert np.array_equal(a_cols[k], b_cols[k]), k
    c_cols, _ = gen.mobility(workload, 8)
    assert not np.array_equal(a_cols["latitude"][:100], c_cols["latitude"][:100])


def test_corpus_generator_is_deterministic():
    a_cols, a_truth = gen.corpus("corpus_curate", 7)
    b_cols, b_truth = gen.corpus("corpus_curate", 7)
    assert a_truth == b_truth
    assert list(a_cols["text"]) == list(b_cols["text"])
    _, c_truth = gen.corpus("corpus_curate", 8)
    assert c_truth["clusters"] != a_truth["clusters"]


def test_planted_truth_is_consistent():
    cols, truth = gen.mobility("mobility_staged", 3)
    assert truth["rows"] == len(cols["timestamp"])
    assert truth["bad_rows"] == int((cols["error"] >= 20).sum()) > 0
    assert (cols["error"] == 20.0).any()  # the filter's boundary value
    _, dense = gen.mobility("mobility_dense", 3)
    assert dense["bad_rows"] == 0
    assert min(u["stays"] for u in dense["users"].values()) > 200
    assert any(u["work"] is None for u in truth["users"].values())
    _, corpus = gen.corpus("corpus_curate", 3)
    ids = corpus["distinct"] + corpus["junk"] + sum(corpus["clusters"], [])
    assert len(ids) == len(set(ids)) == corpus["rows"]


def test_inputs_are_reused(tmp_path):
    d1, t1 = gen.materialize("corpus_curate", 5, str(tmp_path))
    mtime = os.path.getmtime(os.path.join(d1, "part-0.parquet"))
    d2, t2 = gen.materialize("corpus_curate", 5, str(tmp_path))
    assert (d1, t1) == (d2, t2)
    assert os.path.getmtime(os.path.join(d2, "part-0.parquet")) == mtime


# ---------------------------------------------------------------- checkers


def _wide_from_truth(truth: dict) -> dict:
    return {
        u: (*t["home"], *(t["work"] if t["work"] else (None, None)))
        for u, t in truth["users"].items()
    }


def test_hw_checker_accepts_truth_and_rejects_a_swapped_home():
    _, truth = gen.mobility("mobility_dense", 4)
    wide = _wide_from_truth(truth)
    check, share = checks.check_hw(wide, truth)
    assert check[1] and share == 1.0
    worker = next(u for u, t in truth["users"].items() if t["work"])
    h_lat, h_lon, w_lat, w_lon = wide[worker]
    wide[worker] = (w_lat, w_lon, h_lat, h_lon)
    check, share = checks.check_hw(wide, truth)
    assert not check[1]
    assert share == 1.0 - 1 / len(truth["users"])


def test_hw_checker_rejects_a_spurious_work_label():
    _, truth = gen.mobility("mobility_dense", 4)
    wide = _wide_from_truth(truth)
    idle = next(u for u, t in truth["users"].items() if t["work"] is None)
    wide[idle] = (*truth["users"][idle]["home"], *truth["users"][idle]["home"])
    assert not checks.check_hw(wide, truth)[0][1]


def test_stop_and_drop_checkers_reject_corruption():
    _, truth = gen.mobility("mobility_staged", 4)
    per_user = {u: t["stays"] for u, t in truth["users"].items()}
    assert checks.check_stop_counts(per_user, truth)[1]
    per_user[next(iter(per_user))] += 1
    assert not checks.check_stop_counts(per_user, truth)[1]
    rows = truth["rows"]
    assert checks.check_rows_dropped(rows, rows - truth["bad_rows"], truth)[0][1]
    assert not checks.check_rows_dropped(rows, rows - truth["bad_rows"] + 1, truth)[0][1]


def test_corpus_checker_rejects_lost_documents():
    _, truth = gen.corpus("corpus_curate", 4)
    kept = set(truth["distinct"]) | {min(c) for c in truth["clusters"]}
    found, recall = checks.check_corpus(kept, truth)
    assert all(ok for _, ok, _ in found) and recall == 1.0
    found, _ = checks.check_corpus(kept - {truth["distinct"][0]}, truth)
    assert not dict((n, ok) for n, ok, _ in found)["distinct_docs_kept"]
    found, _ = checks.check_corpus(kept - set(truth["clusters"][0]), truth)
    assert not dict((n, ok) for n, ok, _ in found)["dup_clusters_keep_one"]
    found, _ = checks.check_corpus(kept | {truth["junk"][0]}, truth)
    assert not dict((n, ok) for n, ok, _ in found)["junk_docs_dropped"]
    all_dups = set(truth["distinct"]) | set(sum(truth["clusters"], []))
    assert checks.check_corpus(all_dups, truth)[1] == 0.0


def _packed(texts: list[str], seq_len: int, vocab: str) -> pa.Table:
    """Pack with one token per byte (every byte is in the vocab)."""
    tb, eot = checks.token_bytes(vocab)
    byte_id = {b[0]: i for i, b in enumerate(tb) if len(b) == 1}
    stream = []
    for t in texts:
        stream += [byte_id[b] for b in t.encode()] + [eot]
    n = len(stream) // seq_len
    return pa.table({
        "shard": [0] * n,
        "seq_id": list(range(n)),
        "token_ids": [stream[i * seq_len:(i + 1) * seq_len] for i in range(n)],
        "n_tokens": [seq_len] * n,
    })


def _byte_counts(texts):
    return [len(t.encode()) for t in texts]


def test_pack_checker_decodes_and_rejects_a_foreign_token():
    vocab = os.path.join(ROOT, "tests", "fixtures", "mini_gpt2", "vocab.json")
    texts = [f"the doc number {i} is here" * 3 for i in range(20)]
    packed = _packed(texts, 64, vocab)
    assert checks.check_pack(packed, set(texts), 64, 1, vocab, _byte_counts)[1]
    d = packed.to_pydict()
    d["token_ids"][0][3] = (d["token_ids"][0][3] + 1) % 200
    assert not checks.check_pack(pa.table(d), set(texts), 64, 1, vocab, _byte_counts)[1]


def test_pack_checker_rejects_a_lost_window():
    """Every document is longer than a window, so only the one cut
    by the dropped tail may be missing: losing the last window loses
    one more and fails."""
    vocab = os.path.join(ROOT, "tests", "fixtures", "mini_gpt2", "vocab.json")
    texts = [f"the doc number {i} is here" * 3 for i in range(20)]
    packed = _packed(texts, 64, vocab)
    assert checks.check_pack(packed, set(texts), 64, 1, vocab, _byte_counts)[1]
    short = packed.slice(0, packed.num_rows - 1)
    assert not checks.check_pack(short, set(texts), 64, 1, vocab, _byte_counts)[1]


# ---------------------------------------------------------------- metrics


def test_benchmark_json_follows_the_contract():
    s = spec()
    assert set(s) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert s["paths"] == ["perfbench"]
    assert {w["name"] for w in s["workloads"]} <= set(workloads.WORKLOADS)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in s[k]]
    names += [w["name"] for w in s["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])


class _FakeContext:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def _iteration(tracer, traced: bool, layers) -> workloads.Iteration:
    it = workloads.Iteration(wall_s=2.0, cpu_s=5.0, write_bytes=1000, calls=4,
                             truth_share=1.0)
    tracer.enabled = traced
    with tracer.span("pipeline", layer=False) as top:
        for layer in layers:
            with tracer.span(layer):
                pass
    tracer.enabled = False
    it.span = top
    it.counters = {layer: {"rows_out": 10} for layer in layers}
    return it


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_every_named_metric_is_printed(name):
    s = spec()
    layers = workloads.WORKLOADS[name].layers
    tracer = tracing.Tracer(_FakeSpark(), "test")
    traced = [_iteration(tracer, True, layers) for _ in range(2)]
    untraced = [_iteration(tracer, False, layers) for _ in range(2)]
    values = run.per_layer(traced, untraced, {}, tracer, {"dedup.pairs": 3})
    assert set(values) == {m["name"] for m in s["per_layer"]}
    out = run.result_json(s, values, True, 10, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == {m["name"] for m in s["per_layer"]}
    values = run.end_to_end(untraced, 5.0, 100.0, 150.0, 1000, 10, 0)
    assert set(values) == {m["name"] for m in s["end_to_end"]}
    out = run.result_json(s, values, False, 10, 0)
    assert all(v["value"] > 0 for v in out["metrics"].values())
    json.dumps(out)


def test_span_self_time_excludes_children():
    tracer = tracing.Tracer(_FakeSpark(), "t")
    tracer.enabled = True
    with tracer.span("pipeline", layer=False) as top:
        with tracer.span("stops") as child:
            pass
    top.start, top.end = 0.0, 10.0
    child.start, child.end = 2.0, 5.0
    assert tracer.self_time(top) == pytest.approx(7.0)
    assert tracing._union([(0, 2), (1, 3), (5, 6)], 0.5, 10) == pytest.approx(3.5)


def test_sql_size_metric_parsing():
    assert tracing._size_bytes("12.0 MiB") == 12 * 2**20
    assert tracing._size_bytes(
        "total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 0.5 KiB, 1.0 KiB (stage 3.0: task 8))"
    ) == 1.5 * 2**10


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/ the
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_curate",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_stop_processes_leaves_no_descendant():
    """A child that ignores SIGTERM and a grandchild orphaned by its
    parent's exit are both stopped and reaped."""
    script = (
        "import subprocess, sys, time\n"
        f"sys.path.insert(0, {BENCH!r})\n"
        "import run, tracing\n"
        "run.become_subreaper()\n"
        "subprocess.Popen(['bash', '-c', 'sleep 300 & exit 0'])\n"
        "subprocess.Popen(['bash', '-c', 'trap \"\" TERM; sleep 300 & wait'])\n"
        "time.sleep(0.5)\n"
        "assert len(tracing.tree_pids()) > 1\n"
        "t0 = time.monotonic()\n"
        "run.stop_processes(grace_s=0.2, term_s=0.5)\n"
        "assert tracing.tree_pids() == [run.os.getpid()], tracing.tree_pids()\n"
        "assert time.monotonic() - t0 < 10\n"
    )
    p = subprocess.run([sys.executable, "-c", script], capture_output=True,
                       text=True, timeout=60)
    assert p.returncode == 0, p.stderr[-3000:]


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
def test_short_real_run(trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_curate",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    kind = "per_layer" if trace else "end_to_end"
    assert set(out["metrics"]) == {m["name"] for m in spec()[kind]}
