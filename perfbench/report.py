"""Turning a finished run into the detail record and the per-layer metrics.

Per-layer metrics are taken over the traced warm cycles and reported per
cycle (a cycle holds one operation of each kind, two re-syncs on `clone`).
Both workloads report every name; a layer the workload bypasses reads 0.
"""

from __future__ import annotations

import statistics

from perfbench import inputs
from perfbench.workloads import CURATE_KEYS, OLAP_KEYS

SPARK_KINDS = {  # Spark-count operation type -> workload op kinds
    "clone": ("clone",), "resync": ("resync_local", "resync_scattered"),
    "cdc": ("cdc",), "olap": ("olap",), "curate": ("curate",),
}
SPARK_COUNTERS = ("jobs", "stages", "tasks", "tasks_failed")
LAYER_TIMES = {  # metric -> span name
    "sources.load_s": "sources.load",
    "queries.build_s": "queries.build",
    "queries.exec_s": "queries.exec",
    "llm.build_s": "llm.build",
    "llm.exec_s": "llm.exec",
    "pipeline.verify.verify_clone_s": "pipeline.verify.verify_clone",
    "pipeline.verify.write_round_trip_s": "pipeline.verify.write_round_trip",
    "pipeline.reports.write_text_report_s": "pipeline.reports.write_text_report",
    "pipeline.probe.test_user_connections_s": "pipeline.probe.test_user_connections",
    "pipeline.incremental.changed_chunks_s": "pipeline.incremental.changed_chunks",
    "streaming.cdc.apply_cdc_batch_s": "streaming.cdc.apply_cdc_batch",
}
LAYER_CALLS = {
    "sources.load_calls": "sources.load",
    "pipeline.verify.fingerprint_calls": "pipeline.verify.fingerprint",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def input_rows(work: str, tables) -> dict[str, int]:
    con = inputs.connect()
    try:
        return {t: con.execute(
            f"SELECT count(*) FROM read_parquet('{work}/data/{t}.parquet')").fetchone()[0]
            for t in tables}
    finally:
        con.close()


def op_seconds(wl) -> dict[str, float]:
    """Every operation time under its own name; cold = cycle 0."""
    warm = wl.cycles[1:]
    out = {}
    for kind in wl.kinds:
        name = {"olap": "olap_pass", "curate": "curate_pass", "cdc": "cdc_batch"}.get(kind, kind)
        if kind == "clone":
            out["clone_cold_s"] = wl.cycles[0].get(kind, 0.0)
            out["clone_warm_s"] = _median(c.get(kind, 0.0) for c in warm)
        else:
            out[f"{name}_s"] = _median(c.get(kind, 0.0) for c in warm)
            out[f"{name}_cold_s"] = wl.cycles[0].get(kind, 0.0)
    return out


def ratios(wl, cycles) -> dict[str, float]:
    """Rewrite amplification against the generator's ground truth, with
    numerator and base."""
    out = {}
    resyncs = [f for k in ("resync_local", "resync_scattered")
               for f in wl.facts.get(k, []) if f["cycle"] in cycles]
    n = max(1, len(cycles))
    rewritten = sum(f["rows_rewritten"] for f in resyncs)
    changed = sum(f["rows_changed"] for f in resyncs)
    out["pipeline.incremental.chunks_changed"] = sum(f["program_chunks"] for f in resyncs) / n
    out["pipeline.incremental.rows_rewritten"] = rewritten / n
    out["pipeline.incremental.rows_changed"] = changed / n
    out["pipeline.incremental.rewrite_amplification"] = rewritten / changed if changed else 0.0
    for kind in ("local", "scattered"):
        fs = [f for f in resyncs if f["kind"] == kind]
        rw, ch = sum(f["rows_rewritten"] for f in fs), sum(f["rows_changed"] for f in fs)
        out[f"pipeline.incremental.{kind}.rewrite_amplification"] = rw / ch if ch else 0.0
    cdcs = [f for f in wl.facts.get("cdc", []) if f["cycle"] in cycles]
    written = sum(f["rows_written"] for f in cdcs)
    changes = sum(f["changes"] for f in cdcs)
    out["streaming.cdc.chunks_touched"] = sum(f["program_chunks"] for f in cdcs) / n
    out["streaming.cdc.rows_written"] = written / n
    out["streaming.cdc.changes"] = changes / n
    out["streaming.cdc.rewrite_amplification"] = written / changes if changes else 0.0
    return out


def spark_counts(wl, cycles) -> dict[str, float]:
    out = {}
    for name, kinds in SPARK_KINDS.items():
        ops = [o for k in kinds for o in wl.spark_ops.get(k, []) if o["cycle"] in cycles]
        for c in SPARK_COUNTERS:
            out[f"spark.{name}.{c}"] = _median(o[c] for o in ops)
    return out


def detail(args, wl, ledger, setup_s, rss, resources, phases) -> dict:
    warm = list(range(1, len(wl.cycles)))
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "resources": resources,
        "setup_s": setup_s, "peak_rss_mb": rss, "phases_s": phases,
        "cycles_s": wl.cycles,
        "jvm_gc_s": wl.gc_s,
        "ops_s": op_seconds(wl),
        "query_s": getattr(wl, "key_times", {}),
        "spark_per_op_warm": spark_counts(wl, warm),
        "ground_truth": {k: v for k, v in wl.facts.items()},
        "ratios_warm": ratios(wl, warm) if wl.facts else {},
        "attempted": ledger.attempted, "failed": ledger.failed,
        "problems": ledger.problems[:20],
    }


def layer_metrics(wl, tracer, traced_cycles, untraced_cycle) -> dict:
    spans = tracer.spans
    selfs = tracer.self_times()
    cycle_of = {op_id: c for op_id, c, _ in wl.op_log}
    in_warm = [cycle_of.get(s.op) in traced_cycles for s in spans]
    n = max(1, len(traced_cycles))

    def per_cycle(values) -> float:
        return sum(values) / n

    m: dict[str, tuple[float, str]] = {}
    get_spark = [s.end - s.start for s in spans if s.name == "session.get_spark"]
    m["session.get_spark_s"] = (get_spark[0] if get_spark else 0.0, "s")
    for metric, name in LAYER_TIMES.items():
        m[metric] = (per_cycle(s.end - s.start for s, w in zip(spans, in_warm)
                               if w and s.name == name), "s")
    for metric, name in LAYER_CALLS.items():
        m[metric] = (per_cycle(1 for s, w in zip(spans, in_warm)
                               if w and s.name == name), "count")
    m["pipeline.clone.copy_s"] = (per_cycle(
        st for s, st, w in zip(spans, selfs, in_warm) if w and s.name == "pipeline.clone"), "s")
    keys = getattr(wl, "key_times", {})
    for key in OLAP_KEYS + CURATE_KEYS:
        m[f"queries.{key}_s"] = (_median(keys[key][c] for c in traced_cycles)
                                 if key in keys else 0.0, "s")
    for k, v in spark_counts(wl, traced_cycles).items():
        m[k] = (v, "count")
    for k, v in ratios(wl, traced_cycles).items():
        m[k] = (v, "ratio" if k.endswith("amplification") else "count")
    m["trace.unattributed_s"] = (per_cycle(
        st for s, st, w in zip(spans, selfs, in_warm) if w and s.name.startswith("op.")), "s")
    traced = _median(wl.cycle_seconds(c) for c in traced_cycles)
    m["trace.overhead_s"] = (traced - wl.cycle_seconds(untraced_cycle), "s")
    ops = op_seconds(wl)
    for name in ("clone_cold_s", "clone_warm_s", "resync_local_s", "resync_scattered_s",
                 "cdc_batch_s", "olap_pass_s", "curate_pass_s"):
        m[name] = (ops.get(name, 0.0), "s")
    return m


def op_accounting(wl, tracer) -> list[dict]:
    """Per operation: wall time, self time by span name, the remainder no
    layer span covers, and the overlap that concurrent spans add."""
    selfs = tracer.self_times()
    out = []
    for op_id, cycle, kind in wl.op_log:
        idx = [i for i, s in enumerate(tracer.spans) if s.op == op_id]
        root = [i for i in idx if tracer.spans[i].name.startswith("op.")]
        if not root:
            continue
        r = tracer.spans[root[0]]
        by_name: dict[str, float] = {}
        for i in idx:
            by_name[tracer.spans[i].name] = by_name.get(tracer.spans[i].name, 0.0) + selfs[i]
        wall = r.end - r.start
        total = sum(selfs[i] for i in idx)
        out.append({"op": op_id, "cycle": cycle, "kind": kind, "wall_s": wall,
                    "self_s": by_name, "remainder_s": selfs[root[0]],
                    "concurrent_overlap_s": total - wall})
    return out
