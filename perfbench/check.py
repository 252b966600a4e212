"""Output check for one run, read straight from the sink parquet files.

* Per batch: the sink row counts on disk equal the counts the batch
  returned, and every routed row is an input row (doc_id and tokens
  byte-exact) not routed before.
* Per run: conservation (input rows = kept + dropped + low + flushed +
  consumed decision spans) and token-digest equality (the routed rows
  are exactly the non-decision input rows).
* Reference parity, where the workload sets ``sim_policies``: per batch,
  the (sink, reason) row counts equal ``tests/reference_sim.simulate``
  run on the same spans, and the flush emits exactly the simulator's
  leftover pending payload.
"""

from __future__ import annotations

import glob
import hashlib
import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

SINKS = ("keep", "drop", "low_priority")
PLACEHOLDER = "not_sampled_placeholder"


def row_digests(doc_ids, tokens) -> list[int]:
    """64-bit digest of (doc_id, token bytes) per row."""
    values = tokens.values.to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    offsets = tokens.offsets.to_numpy()
    raw = values.tobytes()
    out = []
    for i, doc in enumerate(doc_ids):
        h = hashlib.blake2b(doc.encode(), digest_size=8)
        h.update(raw[4 * offsets[i]: 4 * offsets[i + 1]])
        out.append(int.from_bytes(h.digest(), "little"))
    return out


def read_routed(out_dir: str, b: int) -> dict:
    """{sink: (doc_ids, tokens ListArray, reasons)} of routed batch ``b``."""
    got = {}
    for sink in SINKS:
        files = sorted(glob.glob(os.path.join(out_dir, "routed", f"batch={b}", f"sink={sink}", "*.parquet")))
        docs, reasons, toks = [], [], []
        for f in files:
            t = pq.read_table(f, columns=["doc_id", "tokens", "reason"])
            docs += t.column("doc_id").to_pylist()
            reasons += t.column("reason").to_pylist()
            toks.append(t.column("tokens").combine_chunks())
        got[sink] = (docs, toks, reasons)
    return got


def _digests(docs, toks) -> list[int]:
    out, i = [], 0
    for arr in toks:
        out += row_digests(docs[i: i + len(arr)], arr)
        i += len(arr)
    return out


def check_run(corpus: dict, res: dict, out_dir: str, n_batches: int, sim=None) -> dict:
    """Returns ``failed_ops`` (per-op problems), ``run_failures``, the row
    counts and both token digests.

    ``sim``: ``(simulate, sim_policies, sim_batches, caps)`` for parity."""
    table, cols = corpus["table"], corpus["cols"]
    is_dec = np.asarray(cols["is_decision_span"], dtype=bool)
    docs_in = table.column("doc_id").to_pylist()
    toks_in = table.column("tokens").combine_chunks()
    all_dig = row_digests(docs_in, toks_in)
    want = Counter(d for d, dec in zip(all_dig, is_dec) if not dec)
    in_digest = sum(want.elements()) % (1 << 64)
    remaining = Counter(want)
    routed_digest = 0

    sim_prev = 0
    sim_routed = None
    if sim is not None:
        simulate, sim_pols, sim_bs, caps = sim
        sim_routed, _dec, sim_pend = simulate(sim_pols, sim_bs[:n_batches], *caps)

    failed, run_failures = [], []
    ops = [(r["b"], r) for r in res["batches"]]
    if "flush" in res:
        ops.append((n_batches, None))
    for b, r in ops:
        name = f"batch {b}" if r is not None else "flush"
        routed = read_routed(out_dir, b)
        problems = []
        counts = {s: len(routed[s][2]) for s in SINKS}
        if r is not None:
            exp = {"keep": r["kept"], "drop": r["dropped"], "low_priority": r["low"]}
        else:
            exp = {"keep": res["flush"]["flushed_rows"], "drop": 0, "low_priority": 0}
        if counts != exp:
            problems.append(f"sink rows on disk {counts} != reported {exp}")
        for s in SINKS:
            docs, toks, reasons = routed[s]
            for dg, reason in zip(_digests(docs, toks), reasons):
                if reason == PLACEHOLDER:
                    continue
                routed_digest = (routed_digest + dg) % (1 << 64)
                if remaining[dg] <= 0:
                    problems.append(f"{s}: routed row is not an unrouted input row")
                    break
                remaining[dg] -= 1
        if sim_routed is not None:
            got = Counter(
                (s, reason) for s in SINKS for reason in routed[s][2] if reason != PLACEHOLDER
            )
            if r is not None:
                # simulate() is sequential: the routing of batch b is the
                # tail a prefix of b + 1 batches adds to a prefix of b
                nxt = len(simulate(sim_pols, sim_bs[: b + 1], *caps)[0]) if b + 1 < n_batches else len(sim_routed)
                exp_sim = Counter((s, reason) for s, _d, _k, reason in sim_routed[sim_prev:nxt])
                sim_prev = nxt
            else:
                exp_sim = Counter({("keep", "flush"): sum(len(p.payload) for p in sim_pend.values())})
            exp_sim = Counter({k: v for k, v in exp_sim.items() if k[1] != PLACEHOLDER})
            if got != exp_sim:
                problems.append(f"reference parity: engine {dict(got)} != simulator {dict(exp_sim)}")
        if problems:
            failed.append({"op": name, "problems": problems})

    n_in = len(docs_in)
    n_dec = int(is_dec.sum())
    total = sum(r["kept"] + r["dropped"] + r["low"] for r in res["batches"])
    total += res.get("flush", {}).get("flushed_rows", 0)
    if len(res["batches"]) == n_batches and "flush" in res:
        if total + n_dec != n_in:
            run_failures.append(
                f"conservation: {n_in} input rows != {total} routed + {n_dec} decision spans"
            )
        if routed_digest != in_digest or sum(remaining.values()) != 0:
            run_failures.append("token digest of routed rows != digest of input rows")
    return {
        "failed_ops": failed,
        "run_failures": run_failures,
        "input_rows": n_in,
        "decision_spans": n_dec,
        "digest_in": f"{in_digest:016x}",
        "digest_routed": f"{routed_digest:016x}",
    }
