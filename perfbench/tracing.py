"""Traced-run instrumentation, all from outside the program.

* ``Tagger`` wraps ``SamplingPipeline.process_batch``/``flush``/
  ``_write_routed``, every public ``StateStore`` method and
  ``ThreadPoolExecutor.submit``. Each wrapper sets the Spark local
  property ``perfbench.layer`` on the calling thread, so every job records
  the layer that submitted it, including jobs from the pipeline's
  four-thread write pool. It also records busy wall and calls per layer
  per batch.
* ``parse_eventlog`` reads Spark's uncompressed JSON event log into
  per-job records (layer, submit/end times, task time, GC, shuffle, spill).
* ``run_probes`` times the scan, parse, aggregate and decider layers on
  one larger probe batch by forcing cumulative prefixes of the
  pipeline's plan.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

LAYER_KEY = "perfbench.layer"

STATE_METHODS = (
    "read",
    "write",
    "write_delta",
    "write_epoch",
    "write_evict",
    "write_evmeta",
    "read_evmeta",
    "read_epoch_slice",
    "compact_epochs",
    "n_epochs_since_floor",
    "commit",
)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Tagger:
    def __init__(self, sc, ckpt_dir: str):
        self.sc = sc
        self.ckpt_dir = ckpt_dir
        self.local = threading.local()
        self.lock = threading.Lock()
        self.batch = None  # batch index, "flush" or "probe.<layer>"
        self.busy = defaultdict(lambda: defaultdict(float))
        self.calls = defaultdict(lambda: defaultdict(int))
        self.state_bytes: dict = {}
        self.instr_s = defaultdict(float)  # the wrappers' own time per batch
        self._undo: list = []

    # -- tag stack per thread ------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self.local, "stack", None)
        if st is None:
            st = self.local.stack = []
        return st

    def enter(self, tag: str) -> float:
        t0 = time.perf_counter()
        self._stack().append(tag)
        self.sc.setLocalProperty(LAYER_KEY, tag)
        t1 = time.perf_counter()
        with self.lock:
            self.instr_s[self.batch] += t1 - t0
        return t1

    def leave(self, tag: str, t0: float) -> None:
        t1 = time.perf_counter()
        st = self._stack()
        st.pop()
        self.sc.setLocalProperty(LAYER_KEY, st[-1] if st else None)
        with self.lock:
            self.busy[self.batch][tag] += t1 - t0
            self.calls[self.batch][tag] += 1
            self.instr_s[self.batch] += time.perf_counter() - t1

    def layer(self, tag: str, fn):
        @functools.wraps(fn)
        def wrapped(*a, **k):
            t0 = self.enter(tag)
            try:
                return fn(*a, **k)
            finally:
                self.leave(tag, t0)

        return wrapped

    # -- installation ----------------------------------------------------------

    def _patch(self, owner, name: str, new) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def install(self) -> None:
        from atlassian_sampling_processor_spark.pipeline import SamplingPipeline
        from atlassian_sampling_processor_spark.state import StateStore

        tagger = self
        for m in STATE_METHODS:
            self._patch(StateStore, m, self.layer(f"state.{m}", getattr(StateStore, m)))
        commit = StateStore.commit  # the tagged wrapper

        @functools.wraps(commit)
        def commit_and_measure(store, batch, *a, **k):
            commit(store, batch, *a, **k)
            t0 = time.perf_counter()
            tagger.state_bytes[batch] = dir_bytes(tagger.ckpt_dir)
            tagger.instr_s[tagger.batch] += time.perf_counter() - t0

        self._patch(StateStore, "commit", commit_and_measure)

        pb = self.layer("pipeline.process_batch", SamplingPipeline.process_batch)

        @functools.wraps(pb)
        def process_batch(pipe, raw_batch, b):
            tagger.batch = b
            return pb(pipe, raw_batch, b)

        fl = self.layer("pipeline.flush", SamplingPipeline.flush)

        @functools.wraps(fl)
        def flush(pipe):
            tagger.batch = "flush"
            return fl(pipe)

        self._patch(SamplingPipeline, "process_batch", process_batch)
        self._patch(SamplingPipeline, "flush", flush)
        self._patch(
            SamplingPipeline, "_write_routed",
            self.layer("sink.write_routed", SamplingPipeline._write_routed),
        )
        submit = ThreadPoolExecutor.submit

        def tagged_submit(ex, fn, /, *a, **k):
            return submit(ex, tagger.layer(f"pipeline.{getattr(fn, '__name__', 'task')}", fn), *a, **k)

        self._patch(ThreadPoolExecutor, "submit", tagged_submit)

    def uninstall(self) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            setattr(owner, name, orig)


# -- event log -------------------------------------------------------------------


def parse_eventlog(path: str) -> list[dict]:
    """Per-job records from an uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, dict(
            ran=False, task_ms=[], gc_ms=0, shuffle_w=0, shuffle_r=0, spill=0, failures=0,
        ))

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = dict(
                    id=jid, submit_ms=ev["Submission Time"], end_ms=None,
                    layer=props.get(LAYER_KEY), stage_ids=list(ev.get("Stage IDs", [])),
                )
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                stage(ev["Stage Info"]["Stage ID"])["ran"] = True
            elif kind == "SparkListenerTaskEnd":
                st = stage(ev["Stage ID"])
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                if info.get("Failed"):
                    st["failures"] += 1
                st["task_ms"].append(m.get("Executor Run Time", 0))
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)

    out = []
    for jid in sorted(jobs):
        j = jobs[jid]
        own = [stages[s] for s in j["stage_ids"] if stage_job.get(s) == jid and s in stages]
        ran = [s for s in own if s["ran"]]
        j.update(
            n_stages=len(ran),
            task_s=sum(sum(s["task_ms"]) for s in own) / 1000.0,
            gc_s=sum(s["gc_ms"] for s in own) / 1000.0,
            shuffle_w=sum(s["shuffle_w"] for s in own),
            shuffle_r=sum(s["shuffle_r"] for s in own),
            spill=sum(s["spill"] for s in own),
            failures=sum(s["failures"] for s in own),
            reduce_task_ms=max(
                (s["task_ms"] for s in own if s["shuffle_r"] > 0),
                key=len, default=[],
            ),
        )
        del j["stage_ids"]
        out.append(j)
    return out


def find_eventlog(d: str) -> str:
    logs = [os.path.join(d, n) for n in os.listdir(d) if not n.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {d}, found {logs}")
    return logs[0]


def jobs_in(jobs: list[dict], start_ms: float, end_ms: float) -> list[dict]:
    return [j for j in jobs if start_ms <= j["submit_ms"] <= end_ms]


def idle_s(jobs: list[dict], start_ms: float, end_ms: float) -> float:
    """Part of [start, end] during which no job was running."""
    spans = sorted(
        (max(j["submit_ms"], start_ms), min(j["end_ms"] or end_ms, end_ms)) for j in jobs
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return max(0.0, (end_ms - start_ms) - busy) / 1000.0


# -- layer probes ---------------------------------------------------------------


def _force(df, extra=()):
    """One aggregate that evaluates every column of ``df``: xxhash64 over
    hashable columns, size/length over maps (which Spark cannot hash)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    plain, sized = [], []
    for fld in df.schema.fields:
        if "map<" not in fld.dataType.simpleString():
            plain.append(F.col(fld.name))
        elif isinstance(fld.dataType, T.MapType):
            sized.append(F.size(F.col(fld.name)))
        else:
            sized.append(F.length(F.to_json(F.col(fld.name))))
    exprs = [F.count(F.lit(1)).alias("n")]
    if plain:
        exprs.append(F.bit_xor(F.xxhash64(*plain)).alias("x"))
    exprs += [F.sum(e).alias(f"m{i}") for i, e in enumerate(sized)]
    exprs += list(extra)
    return df.agg(*exprs)


def columns_read_by(spark, build_agg, df) -> list[str]:
    """Columns of ``df`` that ``build_agg(frame)`` reads: the aggregate is
    planned over an empty stand-in with ``df``'s schema, and the
    attributes its optimized plan references above the stand-in leaf
    are the columns that survive pruning."""
    stub = spark.createDataFrame(spark.sparkContext.emptyRDD(), df.schema)
    nodes = json.loads(build_agg(stub)._jdf.queryExecution().optimizedPlan().toJSON())
    names: set[str] = set()

    def walk(x) -> None:
        if isinstance(x, dict):
            if str(x.get("class", "")).endswith(".AttributeReference"):
                names.add(x.get("name"))
            for v in x.values():
                walk(v)
        elif isinstance(x, list):
            for v in x:
                walk(v)

    walk([n for n in nodes if not n.get("class", "").endswith(".LogicalRDD")])
    return [c for c in df.columns if c in names]


def run_probes(pipe, raw, b: int, tagger: Tagger, reps: int) -> dict:
    """Cumulative prefixes of the plan ``process_batch`` builds for the
    sequences ``raw`` arriving as batch ``b`` (merged with the pipeline's
    pending state after batch ``b - 1``), each forced and timed ``reps``
    times; returns per-layer median walls and counts."""
    from pyspark.sql import functions as F

    from atlassian_sampling_processor_spark import codec
    from atlassian_sampling_processor_spark import decision as D
    from atlassian_sampling_processor_spark.aggregate import (
        aggregate_batch, merge_with_pending, with_hash_columns,
    )
    from atlassian_sampling_processor_spark.decider import make_decision, post_decision_state
    from atlassian_sampling_processor_spark.parse import enrich_core, enrich_spans, parse_sequences
    from atlassian_sampling_processor_spark.state import PENDING_STATE_SCHEMA

    pols = pipe.policies
    if "flushes" not in raw.columns:
        raw = raw.withColumn("flushes", F.lit(None).cast("int"))
    valid = F.coalesce(
        (F.size("tokens") >= codec.HEADER_LEN)
        & (F.try_element_at("tokens", F.lit(1)) == codec.MAGIC)
        & (F.try_element_at("tokens", F.lit(2)) == codec.VERSION),
        F.lit(False),
    )
    enrich = enrich_spans if pipe._needs_span_strings() else enrich_core
    reg = enrich(parse_sequences(raw.filter(valid))).filter(~F.col("is_decision_span"))

    def build_agg(frame):
        return aggregate_batch(frame, pols, b, salt_buckets=pipe.engine.salt_buckets)

    pend = pipe.store.read("pending_state", b - 1, PENDING_STATE_SCHEMA)
    parse_cols = columns_read_by(pipe.spark, build_agg, reg)
    n_decided = F.sum(F.col("decision").isin(*D.DECISIVE).cast("long")).alias("decided")

    def build() -> list:
        # a fresh Dataset per repetition: collecting one Dataset twice
        # reuses its shuffle outputs and skips the map stages
        merged = merge_with_pending(build_agg(reg), pend)
        decided = post_decision_state(make_decision(with_hash_columns(merged, pols), pols), pols)
        return [
            ("scan", raw.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("tokens")).alias("x"))),
            ("parse", _force(reg.select(*parse_cols))),
            ("aggregate", _force(merged)),
            ("decider", _force(decided, [n_decided])),
        ]

    walls: dict[str, list[float]] = defaultdict(list)
    rows: dict[str, object] = {}
    for _ in range(reps):
        for name, df in build():
            tagger.batch = f"probe.{name}"
            t0 = tagger.enter(f"probe.{name}")
            try:
                rows[name] = df.collect()[0]
            finally:
                tagger.leave(f"probe.{name}", t0)
            walls[name].append(time.perf_counter() - t0)
    med = {k: statistics.median(v) for k, v in walls.items()}
    return {
        "wall": med,
        "rows_out": int(rows["parse"]["n"]),
        "traces_out": int(rows["aggregate"]["n"]),
        "traces_decided": int(rows["decider"]["decided"] or 0),
    }
