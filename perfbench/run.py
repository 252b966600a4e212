#!/usr/bin/env python3
"""Pipeline benchmark: replays a generated sequence corpus through
``SamplingPipeline.process_batch`` and ``flush`` and checks the sinks.

    python3 perfbench/run.py --workload many_small_batches --seed 1 --seconds 12 --trace 0

Run from the repository root. The corpus is made from ``--seed`` only;
the pipeline runs in a fresh worker process (worker.py) whose Spark
session is sized to this process's CPU affinity. The last stdout line is
one JSON object: ``correct``, ``attempted`` and ``failed`` (batches plus
the flush, a failure being an op that raised or failed the output check)
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# a run must end within 180 s: the worker is stopped at RUN_DEADLINE_S
# from the start, less the time the output check needs
RUN_DEADLINE_S = 170
CHECK_RESERVE_S = 10
DRIVER_MEMORY = "3g"
PROBE_REPS = 3
# bench.reference_task_wall() at a quarter of its default work (2–3 s
# on a 4-CPU host): the ungated host yardstick of every traced run
REF_TASK_OPS = 150
# every process a worker run starts carries RUN_TOKEN_VAR=<token> in its
# environment; stop_all() finds and stops them by it
RUN_TOKEN_VAR = "PERFBENCH_RUN_TOKEN"
PR_SET_CHILD_SUBREAPER = 36


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def become_subreaper() -> None:
    """Make this process the Linux child subreaper of everything it
    starts: a process whose parent dies (the PySpark daemon, which leaves
    the worker's process group; a Python worker the daemon forked) is
    re-parented here instead of to init, so stop_all() can reap it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def proc_stat(pid: int) -> tuple[str, int, int]:
    """(state, parent pid, start time in clock ticks after boot) of a
    process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return fields[0], int(fields[1]), int(fields[19])


def run_processes(token: str, since: int) -> set[int]:
    """The processes of one worker run: those whose environment carries
    its token, their descendants, and zombies re-parented to this process
    that started at tick ``since`` or later (a zombie's environment reads
    empty)."""
    me, needle = os.getpid(), f"{RUN_TOKEN_VAR}={token}".encode()
    parent, found = {}, set()
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        pid = int(name)
        try:
            state, parent[pid], start = proc_stat(pid)
            with open(f"/proc/{pid}/environ", "rb") as f:
                tagged = needle in f.read().split(b"\0")
        except OSError:
            continue
        if tagged or (state == "Z" and parent[pid] == me and start >= since):
            found.add(pid)
    while True:
        more = {pid for pid, ppid in parent.items() if ppid in found} - found
        if not more:
            return found
        found |= more


def reap(pids: set[int]) -> set[int]:
    """Reap those of ``pids`` that are this process's ended children;
    return those that still exist (running, or a zombie whose parent is
    not yet gone)."""
    left = set()
    for pid in pids:
        try:
            if os.waitpid(pid, os.WNOHANG)[0] == pid:
                continue
        except ChildProcessError:
            pass
        if os.path.exists(f"/proc/{pid}"):
            left.add(pid)
    return left


def stop_all(token: str, since: int) -> None:
    """SIGTERM, then SIGKILL, every process of the worker run, reap them,
    and wait until none is left."""
    seen: set[int] = set()
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.time() + wait_s
        while True:
            live = run_processes(token, since)
            seen |= live
            for pid in live:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            seen = reap(seen)
            if not seen and not run_processes(token, since):
                return
            if time.time() > deadline:
                break
            time.sleep(0.1)
    log(f"processes {sorted(seen)} of the worker run did not end")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat. Steal is time a
    virtual CPU was runnable while the hypervisor ran another guest."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def run_worker(spec: dict, timeout_s: float) -> tuple[dict | None, str]:
    work = spec["work"]
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(
        os.environ,
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("SPARK_DRIVER_MEM", None)
    token = env[RUN_TOKEN_VAR] = f"{os.getpid()}-{time.time_ns()}"
    become_subreaper()
    steal0, total0 = cpu_ticks()
    t0 = time.time()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), spec_path, repr(t0)]
    with open(os.path.join(work, "worker.log"), "w") as err_log:
        proc = subprocess.Popen(cmd, env=env, start_new_session=True,
                                stdout=subprocess.DEVNULL, stderr=err_log)
        since = proc_stat(proc.pid)[2]
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            log(f"worker exceeded {timeout_s:.0f}s; stopping it")
        finally:
            stop_all(token, since)
            proc.wait()
    steal1, total1 = cpu_ticks()
    steal_frac = (steal1 - steal0) / max(1, total1 - total0)
    log(f"worker process took {time.time() - t0:.2f}s; host steal {steal_frac:.1%} of CPU time")
    if proc.returncode != 0 or not os.path.exists(spec["result"]):
        with open(os.path.join(work, "worker.log")) as f:
            tail = f.read()[-4000:]
        return None, tail
    with open(spec["result"]) as f:
        res = json.load(f)
    res["steal_frac"] = steal_frac
    return res, ""


def ref_task_wall() -> float:
    """bench.reference_task_wall(REF_TASK_OPS), the repository's host
    yardstick, in a child process with one BLAS thread. A plain
    subprocess, waited for: bench's multiprocessing pool would leave its
    resource-tracker process running until this process exits."""
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1", MKL_NUM_THREADS="1")
    code = f"import sys; sys.path.insert(0, {ROOT!r}); import bench; print(bench._ref_task({REF_TASK_OPS}))"
    done = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True,
                          timeout=60, check=True)
    return float(done.stdout.split()[-1])


def end_to_end(res: dict) -> dict:
    warm = res["batches"][1:]
    walls = [b["wall_s"] for b in warm]
    rows = sum(b["kept"] + b["dropped"] + b["low"] for b in warm)
    return {
        "warm_seq_per_s": metric(rows / sum(walls), "1/s"),
        "batch_wall_p50_s": metric(statistics.median(walls), "s"),
        "batch_wall_max_s": metric(max(walls), "s"),
        "cold_batch_s": metric(res["batches"][0]["wall_s"], "s"),
        "setup_s": metric(res["setup_s"], "s"),
        "flush_s": metric(res["flush_s"], "s"),
        "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
    }


def per_layer(res: dict, cores: int, ref_wall: float, work_bytes: int,
              overhead: float | None) -> dict:
    jobs = res["jobs"]
    warm = res["batches"][1:]
    mean = statistics.fmean
    log("jobs per batch: %s" % [len(tracing.jobs_in(jobs, b["start_ms"], b["end_ms"])) for b in res["batches"]])
    per_batch = []
    for b in warm:
        js = tracing.jobs_in(jobs, b["start_ms"], b["end_ms"])
        task = sum(j["task_s"] for j in js)
        tagged = sum(j["task_s"] for j in js if j["layer"])
        per_batch.append(dict(
            jobs=len(js),
            stages=sum(j["n_stages"] for j in js),
            idle=tracing.idle_s(js, b["start_ms"], b["end_ms"]),
            task=task,
            attributed=tagged / task if task else 1.0,
            gc=sum(j["gc_s"] for j in js),
            sw=sum(j["shuffle_w"] for j in js),
            sr=sum(j["shuffle_r"] for j in js),
            spill=sum(j["spill"] for j in js),
            fail=sum(j["failures"] for j in js),
            state_task=sum(j["task_s"] for j in js if (j["layer"] or "").startswith("state.")),
            sink_task=sum(j["task_s"] for j in js if j["layer"] == "sink.write_routed"),
            main_task=sum(j["task_s"] for j in js if j["layer"] == "pipeline.process_batch"),
        ))
    m = {
        "pipeline.jobs_per_batch": metric(mean(p["jobs"] for p in per_batch), "count"),
        "pipeline.stages_per_batch": metric(mean(p["stages"] for p in per_batch), "count"),
        "pipeline.driver_idle_s": metric(mean(p["idle"] for p in per_batch), "s"),
        "pipeline.task_s": metric(mean(p["task"] for p in per_batch), "s"),
        "pipeline.gc_s": metric(mean(p["gc"] for p in per_batch), "s"),
        "pipeline.shuffle_write_bytes": metric(mean(p["sw"] for p in per_batch), "bytes"),
        "pipeline.shuffle_read_bytes": metric(mean(p["sr"] for p in per_batch), "bytes"),
        "pipeline.spill_bytes": metric(mean(p["spill"] for p in per_batch), "bytes"),
        "pipeline.task_failures": metric(sum(p["fail"] for p in per_batch), "count"),
        "pipeline.attributed_task_frac": metric(min(p["attributed"] for p in per_batch), "ratio"),
        "pipeline.kept_rows": metric(sum(b["kept"] for b in res["batches"]) + res["flush"]["flushed_rows"], "count"),
        "pipeline.dropped_rows": metric(sum(b["dropped"] for b in res["batches"]), "count"),
        "pipeline.low_rows": metric(sum(b["low"] for b in res["batches"]), "count"),
        "pipeline.main_thread_task_s": metric(mean(p["main_task"] for p in per_batch), "s"),
        "sink.task_s": metric(mean(p["sink_task"] for p in per_batch), "s"),
        "state.task_s": metric(mean(p["state_task"] for p in per_batch), "s"),
    }
    for meth in ("read", "write_delta", "write_epoch", "write_evict", "compact_epochs", "commit"):
        m[f"state.{meth}_s"] = metric(
            mean(res["busy"].get(str(b["b"]), {}).get(f"state.{meth}", 0.0) for b in warm), "s")
        m[f"state.{meth}_calls"] = metric(
            mean(res["calls"].get(str(b["b"]), {}).get(f"state.{meth}", 0) for b in warm), "count")
    m["state.bytes"] = metric(res["state_bytes"][str(warm[-1]["b"])], "bytes")
    m["state.pending_traces"] = metric(warm[-1]["pending_traces"], "count")
    m["state.evicted_traces"] = metric(mean(b["evicted_traces"] for b in warm), "count")

    pr = res["probes"]
    wall = pr["wall"]
    m["scan_s"] = metric(wall["scan"], "s")
    m["parse_s"] = metric(wall["parse"] - wall["scan"], "s")
    m["aggregate_s"] = metric(wall["aggregate"] - wall["parse"], "s")
    m["decider_s"] = metric(wall["decider"] - wall["aggregate"], "s")
    agg_jobs = [j for j in jobs if j["layer"] == "probe.aggregate"]
    parse_jobs = [j for j in jobs if j["layer"] == "probe.parse"]
    m["aggregate.shuffle_bytes"] = metric(
        (sum(j["shuffle_w"] for j in agg_jobs) - sum(j["shuffle_w"] for j in parse_jobs)) / PROBE_REPS,
        "bytes")
    reduce_ms = max((j["reduce_task_ms"] for j in agg_jobs), key=len, default=[])
    skew = max(reduce_ms) / statistics.median(reduce_ms) if reduce_ms and statistics.median(reduce_ms) > 0 else 1.0
    m["aggregate.task_skew"] = metric(skew, "ratio")
    m["parse.rows_out"] = metric(pr["rows_out"], "count")
    m["aggregate.traces_out"] = metric(pr["traces_out"], "count")
    m["decider.traces_decided"] = metric(pr["traces_decided"], "count")
    if overhead is not None:
        m["trace_overhead_frac"] = metric(overhead, "ratio")
    m["host.cores"] = metric(cores, "count")
    m["host.ref_task_wall_s"] = metric(ref_wall, "s")
    m["host.work_bytes"] = metric(work_bytes, "bytes")
    m["host.steal_frac"] = metric(res["steal_frac"], "ratio")
    return m


def run_key(w, n_batches: int, cores: int) -> str:
    """Digest of the package under test, the benchmark's own code, the
    workload definition, the batch count and the cores. Untraced runs
    recorded under one key are the baseline of a traced run with the same
    key, whatever their seeds: every seed gives a corpus of the same size."""
    h = hashlib.sha256(repr((w, n_batches, cores)).encode())
    files = glob.glob(os.path.join(ROOT, "atlassian_sampling_processor_spark", "**", "*.py"),
                      recursive=True) + glob.glob(os.path.join(HERE, "*.py"))
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def history_path(workload: str, key: str) -> str:
    return os.path.join(os.getcwd(), ".bench_work", "history", f"{workload}-{key}.jsonl")


def read_history(path: str) -> list[float]:
    try:
        with open(path) as f:
            return [json.loads(line)["batch_wall_p50_s"] for line in f if line.strip()]
    except FileNotFoundError:
        return []


def execute(w, seed: int, n_batches: int, work: str, traced: bool, deadline: float) -> dict:
    """Generate the corpus, run the worker until ``deadline`` (epoch
    seconds) at the latest, and check its outputs. Returns ``{"corpus",
    "res", "chk", "attempted", "failed", "out", "cores"}``; ``res`` is
    None, and ``chk`` and ``failed`` are missing, when the worker died."""
    cores = len(os.sched_getaffinity(0))
    corpus_path = os.path.join(work, "corpus", "seq.parquet")
    corpus = workloads.make_corpus(w, seed, w.traces_per_batch * n_batches, n_batches, corpus_path)
    log(f"{w.name}: seed {seed}, {n_batches} batches, {corpus['table'].num_rows} rows, {cores} cores")
    run_dir = os.path.join(work, "run")
    os.makedirs(os.path.join(run_dir, "tmp"))
    spec = dict(
        workload=w.name, corpus=corpus_path, work=run_dir,
        result=os.path.join(run_dir, "result.json"), n_batches=n_batches,
        cores=cores, trace=traced, driver_memory=DRIVER_MEMORY, probe_reps=PROBE_REPS,
    )
    if traced:
        spec["probe_corpus"] = os.path.join(work, "corpus", "probe.parquet")
        workloads.make_corpus(w, seed, workloads.PROBE_TRACES, 1, spec["probe_corpus"])
    res, err = run_worker(spec, max(1.0, deadline - CHECK_RESERVE_S - time.time()))
    out = dict(corpus=corpus, res=res, out=os.path.join(run_dir, "out"), cores=cores,
               attempted=n_batches + 1)
    if res is None:
        log("worker failed:\n" + err)
        return out
    for e in res["errors"]:
        log(f"{e['op']} raised:\n{e['trace']}")
    log("setup %.2fs, batch walls %s, flush %s" % (
        res.get("setup_s", 0), [round(b["wall_s"], 2) for b in res["batches"]],
        round(res.get("flush_s", 0), 2)))
    out["chk"] = verify(w, corpus, res, out["out"], n_batches)
    out["failed"] = count_failed(res, out["chk"], n_batches)
    return out


def verify(w, corpus: dict, res: dict, out_dir: str, n_batches: int) -> dict:
    sim = None
    if w.sim_policies is not None:
        from atlassian_sampling_processor_spark.config import EngineConfig
        from tests.reference_sim import simulate

        eng = EngineConfig(**w.engine)
        caps = (eng.primary_capacity(), eng.secondary_cache_size,
                eng.sampled_cache_size, eng.non_sampled_cache_size)
        sim = (simulate, w.sim_policies, workloads.sim_batches(corpus["cols"], n_batches), caps)
    chk = check.check_run(corpus, res, out_dir, n_batches, sim)
    for f in chk["failed_ops"]:
        log(f"output check failed for {f['op']}: {f['problems']}")
    for f in chk["run_failures"]:
        log(f"output check failed for the run: {f}")
    log(f"digest in {chk['digest_in']} routed {chk['digest_routed']}; "
        f"{chk['input_rows']} input rows, {chk['decision_spans']} decision spans")
    return chk


def count_failed(res: dict, chk: dict, n_batches: int) -> int:
    """Ops (batches plus the flush) that raised, never ran, or failed the
    output check; a run-level check failure fails every op."""
    all_ops = [f"batch {b}" for b in range(n_batches)] + ["flush"]
    if chk["run_failures"]:
        return len(all_ops)
    done = {f"batch {b['b']}" for b in res["batches"]} | ({"flush"} if "flush" in res else set())
    bad = {f["op"] for f in chk["failed_ops"]} | {e["op"] for e in res["errors"]}
    return sum(1 for op in all_ops if op not in done or op in bad)


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the finally blocks that stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "atlassian_sampling_processor_spark")):
        log(f"no atlassian_sampling_processor_spark package next to {HERE}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
        return 2
    w = workloads.WORKLOADS[args.workload]
    n_batches = workloads.n_batches(args.seconds)
    work = os.path.join(
        os.getcwd(), ".bench_work", f"{w.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        ref_wall = None
        if args.trace:
            ref_wall = ref_task_wall()
        run = execute(w, args.seed, n_batches, work, bool(args.trace), t_start + RUN_DEADLINE_S)
        res, attempted = run["res"], run["attempted"]
        failed = run.get("failed", attempted)  # a dead worker fails every op
        complete = res is not None and len(res["batches"]) == n_batches and "flush" in res
        hist = history_path(w.name, run_key(w, n_batches, run["cores"]))
        metrics: dict = {}
        if not args.trace:
            if complete:
                metrics = end_to_end(res)
                if failed == 0:
                    os.makedirs(os.path.dirname(hist), exist_ok=True)
                    with open(hist, "a") as f:
                        f.write(json.dumps({"seed": args.seed, "batch_wall_p50_s":
                                            metrics["batch_wall_p50_s"]["value"]}) + "\n")
            metrics["ok_op_frac"] = metric(1.0 - failed / attempted, "ratio")
        elif complete:
            baseline = read_history(hist)
            overhead = None
            if baseline:
                warm_p50 = statistics.median(b["wall_s"] for b in res["batches"][1:])
                overhead = warm_p50 / statistics.median(baseline) - 1.0
                log(f"trace overhead against {len(baseline)} correct untraced runs of this code")
            else:
                log("no correct untraced run of this code and workload in this checkout:"
                    " trace_overhead_frac is left out")
            work_bytes = sum(
                tracing.dir_bytes(os.path.join(work, "run", d)) for d in ("ck", "out", "spark-local")
            )
            metrics = per_layer(res, run["cores"], ref_wall, work_bytes, overhead)
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
