"""Workload definitions: corpus shape, policy chain and engine capacities.

A workload is fully determined by its name and the ``--seed``: the seed
feeds ``datagen.generate_span_arrays`` and nothing else, so the same seed
always yields the same corpus, and the program under test only ever sees
the parquet file written here.

Each run replays a fixed number of arrival batches. ``--seconds`` is the
warm-phase budget; it is converted into a batch count with a nominal
warm-batch wall (measured on a 4-CPU host), so every run of one
configuration replays exactly the same batches and the per-batch counts
(jobs, stages, evictions) repeat run to run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq

# The six-policy chain of the repository's bench.py: status, span count,
# latency, root-span demotion, OTEP threshold, 10% probabilistic (the
# trace-hash pandas UDF).
CHAIN_POLICIES = [
    {"name": "errors", "type": "status_code", "status_code": {"status_codes": ["ERROR"]}},
    {"name": "big", "type": "span_count", "span_count": {"min_spans": 12}},
    {"name": "slow", "type": "latency", "latency": {"threshold_ms": 30000}},
    {
        "name": "roots",
        "type": "root_spans",
        "root_spans": {
            "sub_policy": {
                "name": "p0",
                "type": "probabilistic",
                "probabilistic": {"sampling_percentage": 0},
            }
        },
    },
    {"name": "otep", "type": "threshold"},
    {"name": "pct10", "type": "probabilistic", "probabilistic": {"sampling_percentage": 10}},
]

# The same chain in tests/reference_sim.py's policy shape.
CHAIN_SIM_POLICIES = [
    {"name": "errors", "type": "status_code", "codes": ["ERROR"]},
    {"name": "big", "type": "span_count", "min_spans": 12},
    {"name": "slow", "type": "latency", "threshold_ms": 30000},
    {"name": "roots", "type": "root_spans", "sub": {"type": "probabilistic", "pct": 0}},
    {"name": "otep", "type": "threshold"},
    {"name": "pct10", "type": "probabilistic", "pct": 10},
]

# OTTL conditions on the string/map path (attribute equality, IsMatch,
# a span-event condition, FNV over Concat) ahead of status, span count
# and latency. No probabilistic policy: the trace-hash UDF never runs.
OTTL_POLICIES = [
    {
        "name": "ottl_spans",
        "type": "ottl_condition",
        "ottl_condition": {
            "span": [
                'attributes["db.system"] == "postgres" and attributes["retry"] == "true"'
                ' and attributes["env"] == "prod"',
                'IsMatch(name, "^POST /api/.*") and attributes["feature.flag"] == "on"',
                'FNV(Concat([name, resource.attributes["service.name"]], "|"))'
                ' < -8500000000000000000',
            ],
        },
    },
    {
        "name": "ottl_exceptions",
        "type": "ottl_condition",
        "ottl_condition": {"spanevent": ['name == "exception"']},
    },
    {"name": "errors", "type": "status_code", "status_code": {"status_codes": ["ERROR"]}},
    {"name": "big", "type": "span_count", "span_count": {"min_spans": 12}},
    {"name": "slow", "type": "latency", "latency": {"threshold_ms": 30000}},
]


# Traces (about 124k rows) in the one batch that only the traced run's
# layer probes read: large enough that the per-row layers resolve above
# the noise of a single warm batch.
PROBE_TRACES = 30_000


@dataclass(frozen=True)
class Workload:
    name: str
    traces_per_batch: int
    policies: list
    engine: dict
    corpus: dict = field(default_factory=dict)
    sim_policies: list | None = None  # set when reference parity applies


# Nominal warm-batch wall of both workloads on a 4-CPU host: converts
# --seconds into a fixed warm-batch count.
NOMINAL_WARM_S = 12.0


def n_batches(seconds: float) -> int:
    """The cold batch plus the warm batches that fill ``seconds``, at
    least one."""
    return 1 + max(1, int(round(seconds / NOMINAL_WARM_S)))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="many_small_batches",
            traces_per_batch=600,
            policies=CHAIN_POLICIES,
            sim_policies=CHAIN_SIM_POLICIES,
            # caps below the per-batch pending/decided counts: pending
            # (both tiers) and decision eviction fire on every batch; a
            # compaction every 2 epochs lands on the first warm batch
            engine=dict(
                primary_cache_size=150,
                secondary_cache_size=30,
                sampled_cache_size=750,
                non_sampled_cache_size=75,
                state_compact_every=2,
            ),
            corpus=dict(decision_span_frac=0.005),
        ),
        Workload(
            name="ottl_hot_key",
            traces_per_batch=1500,
            policies=OTTL_POLICIES,
            # a Sampled cache far below the ~1.4k traces sampled per batch
            # forgets the hot trace's decision, so it re-enters the salted
            # aggregate in the next batch
            engine=dict(
                primary_cache_size=20_000,
                secondary_cache_size=5_000,
                sampled_cache_size=50,
                non_sampled_cache_size=20_000,
                salt_buckets=8,
            ),
            corpus=dict(decision_span_frac=0.02, hot_trace_frac=0.05),
        ),
    )
}


def make_corpus(w: Workload, seed: int, n_traces: int, n_batches: int, path: str) -> dict:
    """Write ``n_traces`` traces of the workload's corpus shape, spread
    over ``n_batches`` arrival batches, to ``path``; return what the
    output check needs: the span arrays and the sequence table."""
    from atlassian_sampling_processor_spark import datagen

    cols = datagen.generate_span_arrays(
        n_traces, seed=seed, n_batches=n_batches, spill_wrap=True, **w.corpus
    )
    table = datagen.build_sequences_table(cols)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return {"cols": cols, "table": table}


def sim_batches(cols: dict, n_batches: int) -> list[list[dict]]:
    """The corpus in tests/reference_sim.py's span shape, per batch;
    ``tokens_key`` is the corpus row index."""
    status_names = ["UNSET", "OK", "ERROR"]
    out: list[list[dict]] = [[] for _ in range(n_batches)]
    hi, lo = cols["trace_hi"], cols["trace_lo"]
    thr_len, thr_val = cols["threshold_len"], cols["threshold_value"]
    for i in range(len(cols["span_id"])):
        out[int(cols["batch_idx"][i])].append(
            dict(
                doc_id=f"{int(hi[i]):016x}{int(lo[i]):016x}",
                span_id=int(cols["span_id"][i]),
                parent=int(cols["parent_span_id"][i]),
                start=int(cols["start_ts"][i]),
                end=int(cols["end_ts"][i]),
                status=status_names[int(cols["status_code"][i])],
                threshold=int(thr_val[i]) if thr_len[i] else None,
                is_decision=bool(cols["is_decision_span"][i]),
                decision_value=bool(cols["decision_value"][i]),
                tokens_key=i,
            )
        )
    return out

