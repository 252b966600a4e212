"""The benchmark's own test, at tiny corpus size (about four minutes).

    python3 -m pytest perfbench -q -p no:cacheprovider

* Every metric BENCHMARK.json names prints with its unit: the end-to-end
  set on an untraced run, the per-layer set on a traced run.
* The output check rejects a tampered sink (one dropped row).
* A worker that dies still yields a result line that fails every op.
* No process a run starts outlives it, even one that left the worker's
  process group and lost its parent.
"""

from __future__ import annotations

import contextlib
import dataclasses
import glob
import io
import json
import os
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench_run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """Every workload shrunk to 60 traces per batch and a 200-trace probe
    corpus, with the benchmark's work directory in a temporary cwd."""
    with pytest.MonkeyPatch.context() as mp:
        for name, w in list(workloads.WORKLOADS.items()):
            mp.setitem(workloads.WORKLOADS, name, dataclasses.replace(w, traces_per_batch=60))
        mp.setattr(workloads, "PROBE_TRACES", 200)
        mp.chdir(tmp_path_factory.mktemp("bench"))
        yield


def run_main(mp: pytest.MonkeyPatch, workload: str, trace: int) -> dict:
    mp.setattr(sys, "argv", [
        "run.py", "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace),
    ])
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert bench_run.main() == 0
    return json.loads(out.getvalue().strip().splitlines()[-1])


def assert_metrics(got: dict, wanted: list[dict]) -> None:
    assert set(got["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        val = got["metrics"][m["name"]]
        assert val["unit"] == m["unit"], m["name"]
        assert isinstance(val["value"], (int, float)), m["name"]


def test_workloads_match_spec():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_metrics_print_with_units(tiny, monkeypatch):
    # the untraced run first: it records the baseline of trace_overhead_frac
    got = run_main(monkeypatch, "ottl_hot_key", 0)
    assert got["correct"] and got["failed"] == 0 and got["attempted"] >= 1
    assert_metrics(got, SPEC["end_to_end"])

    got = run_main(monkeypatch, "ottl_hot_key", 1)
    assert got["correct"] and got["failed"] == 0
    assert_metrics(got, SPEC["per_layer"])


def test_dead_worker_fails_every_op(tiny, monkeypatch):
    monkeypatch.setattr(bench_run, "run_worker", lambda spec, timeout_s: (None, "killed"))
    got = run_main(monkeypatch, "many_small_batches", 0)
    assert not got["correct"] and got["failed"] == got["attempted"] >= 1
    assert got["metrics"] == {"ok_op_frac": {"value": 0.0, "unit": "ratio"}}


def test_output_check_rejects_dropped_row(tiny, tmp_path):
    w = workloads.WORKLOADS["many_small_batches"]
    n = workloads.n_batches(1)
    run = bench_run.execute(w, 5, n, str(tmp_path), traced=False, deadline=time.time() + 170)
    assert run["res"] is not None and run["failed"] == 0
    victim = max(
        glob.glob(os.path.join(run["out"], "routed", "batch=1", "sink=keep", "*.parquet")),
        key=lambda f: pq.read_metadata(f).num_rows,
    )
    table = pq.read_table(victim)
    assert table.num_rows > 0
    pq.write_table(table.slice(1), victim)

    chk = bench_run.verify(w, run["corpus"], run["res"], run["out"], n)
    assert "batch 1" in {f["op"] for f in chk["failed_ops"]}
    assert chk["run_failures"]
    assert bench_run.count_failed(run["res"], chk, n) == n + 1


def test_stop_all_reaps_orphan_in_own_session():
    token = f"test-{os.getpid()}-{time.time_ns()}"
    env = dict(os.environ, **{bench_run.RUN_TOKEN_VAR: token})
    bench_run.become_subreaper()
    # the child starts a grandchild in a session of its own, then exits
    sleeper = "import os, time; os.setsid(); time.sleep(60)"
    code = (f"import subprocess, sys; p = subprocess.Popen([sys.executable, '-c', {sleeper!r}]);"
            " print(p.pid, flush=True)")
    child = subprocess.Popen([sys.executable, "-c", code], env=env, stdout=subprocess.PIPE, text=True)
    since = bench_run.proc_stat(child.pid)[2]
    grandchild = int(child.stdout.readline())
    child.wait()
    child.stdout.close()
    assert os.path.exists(f"/proc/{grandchild}")
    bench_run.stop_all(token, since)
    assert not os.path.exists(f"/proc/{grandchild}")
