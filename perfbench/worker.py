"""One benchmark run of the pipeline in a fresh process.

Started by run.py as ``python3 worker.py <spec.json> <spawn epoch secs>``.
It builds the Spark session, replays the corpus through
``SamplingPipeline.process_batch`` one batch at a time (closed loop: the
next batch is submitted only after the previous one committed), calls
``flush()``, and writes raw timings and counters to the spec's result
file. With ``trace`` set it also tags jobs by layer, writes Spark's event
log, and times the layer probes on the larger probe corpus before the
flush.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process, the JVM and
    the JVM's Python workers."""
    return sum(_status_kb(p, "VmHWM") for p in _descendants(os.getpid())) / 1024.0


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    spawned = float(sys.argv[2])
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from pyspark.sql import functions as F

    from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
    from atlassian_sampling_processor_spark.pipeline import SamplingPipeline
    from atlassian_sampling_processor_spark.session import get_spark

    import tracing as tr
    import workloads

    w = workloads.WORKLOADS[spec["workload"]]
    work, cores, traced = spec["work"], spec["cores"], spec["trace"]
    conf = {
        "spark.driver.memory": spec["driver_memory"],
        "spark.driver.extraJavaOptions": (
            f"-XX:ActiveProcessorCount={cores} -XX:+UseParallelGC -XX:-UsePerfData"
            f" -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if traced:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    res: dict = {"batches": [], "errors": []}
    spark = get_spark(
        app_name=f"perfbench-{w.name}", cores=cores, shuffle_partitions=cores, extra_conf=conf
    )
    try:
        seqs = spark.read.parquet(spec["corpus"])
        pipe = SamplingPipeline(
            spark,
            parse_policies(w.policies),
            EngineConfig(shards=cores, **w.engine),
            checkpoint_dir=f"{work}/ck",
            output_dir=f"{work}/out",
        )
        tagger = None
        if traced:
            tagger = tr.Tagger(spark.sparkContext, f"{work}/ck")
            tagger.install()
        res["setup_s"] = time.time() - spawned

        for b in range(spec["n_batches"]):
            t_epoch, t0 = time.time(), time.perf_counter()
            try:
                r = pipe.process_batch(seqs.filter(F.col("batch_idx") == b), b)
            except Exception:
                res["errors"].append({"op": f"batch {b}", "trace": traceback.format_exc()})
                break
            res["batches"].append({
                "b": b, "wall_s": time.perf_counter() - t0,
                "start_ms": t_epoch * 1000.0, "end_ms": time.time() * 1000.0,
                "kept": r.kept, "dropped": r.dropped, "low": r.low_evicted,
                "evicted_traces": r.evicted_traces, "pending_traces": r.pending_traces,
            })

        if traced and not res["errors"]:
            # the probe corpus arrives as batch 1, the first warm batch,
            # and merges with the pending state batch 0 left
            tagger.batch = "probe"
            probe_seqs = spark.read.parquet(spec["probe_corpus"])
            res["probes"] = tr.run_probes(pipe, probe_seqs, 1, tagger, spec["probe_reps"])

        if not res["errors"]:
            t0 = time.perf_counter()
            try:
                res["flush"] = pipe.flush()
                res["flush_s"] = time.perf_counter() - t0
            except Exception:
                res["errors"].append({"op": "flush", "trace": traceback.format_exc()})
        res["peak_rss_mb"] = peak_rss_mb()
        if tagger is not None:
            tagger.uninstall()
            res["busy"] = {str(k): dict(v) for k, v in tagger.busy.items()}
            res["calls"] = {str(k): dict(v) for k, v in tagger.calls.items()}
            res["state_bytes"] = {str(k): v for k, v in tagger.state_bytes.items()}
            res["instr_s"] = {str(k): v for k, v in tagger.instr_s.items()}
    finally:
        spark.stop()
    if traced:
        res["jobs"] = tr.parse_eventlog(tr.find_eventlog(f"{work}/eventlog"))
    # written whole or not at all: run.py may kill this process any time
    with open(spec["result"] + ".part", "w") as f:
        json.dump(res, f)
    os.replace(spec["result"] + ".part", spec["result"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
