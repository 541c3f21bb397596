"""Per-layer metrics of a traced run, named by the module they measure.

Each figure is the median over the traced batches (or traced refresh
reads, for ``read.*``). Which end-to-end metric each should move, and on
which workload, is written down in README.md.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

from stats import median
from spans import STAGE_FIELDS, UDF_SQL_METRICS, layer_self_times

#: per-layer metric -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "worker.guard_s": "s",
    "worker.guard_jobs": "count",
    "worker.useful_id_frac": "frac",
    "worker.dlq_rows": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.py4j_calls": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimizer_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.actions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.spill_bytes": "B",
    "merge.s": "s",
    "merge.discover_s": "s",
    "merge.write_s": "s",
    "merge.jobs": "count",
    "merge.buckets_rewritten": "count",
    "merge.buckets_linked": "count",
    "merge.bytes_written": "B",
    "merge.state_rows": "count",
    "merge.state_bytes": "B",
    "read.s": "s",
    "read.jobs": "count",
    "read.files": "count",
    "read.bytes_scanned": "B",
    "udf.python_time_s": "s",
    "udf.python_bytes_sent": "B",
    "udf.python_bytes_received": "B",
    "trace.self_sum_frac": "frac",
    "trace.overhead_frac": "frac",
    "trace.dominant_share": "frac",
}

#: span names (= layers) along a batch's blocking path
BATCH_LAYERS = ("worker", "plans", "merge")


def _merge_split(merge) -> tuple[float, float]:
    """(discover_s, write_s) of one ``PointTable.merge`` span.

    Bucket discovery is the ``collect`` whose call site Spark records in
    ``merge/upsert.py``; it also computes the persisted delta. Discovery
    runs from the span's start to the end of its last job; the write is
    the rest: the bucket rewrite (whose jobs run on Spark's own threads
    and carry no Python call site), hard links, ledger and pointer flip.
    """
    ends = [
        j["completed"] for j in merge.jobs
        if j["name"].startswith("collect at") and "upsert.py" in j["name"]
    ]
    total = merge.end - merge.start
    discover = min(max(ends) - merge.epoch_start, total) if ends else 0.0
    return discover, total - discover


def _batch_metrics(res, op: str) -> dict:
    spans = [s for s in res.tracer.spans if s.op == op]
    by = {s.name: s for s in spans}
    jobs = [j for s in spans for j in s.jobs]
    selfs = layer_self_times(res.tracer.spans, op)
    counters = res.tracer.op_counters.get(op, {})
    cat = counters.get("catalyst", [])
    merge = by["merge"]
    m = {
        "worker.guard_s": selfs.get("worker", 0.0),
        "worker.guard_jobs": len(by["worker"].jobs),
        "plans.build_s": selfs.get("plans", 0.0),
        "plans.build_jobs": len(by["plans"].jobs) if "plans" in by else 0,
        "plans.py4j_calls": by["plans"].py4j_calls if "plans" in by else 0,
        "catalyst.analysis_s": sum(e["analysis"] for e in cat),
        "catalyst.optimizer_s": sum(e["optimization"] for e in cat),
        "catalyst.planning_s": sum(e["planning"] for e in cat),
        "catalyst.actions": len(cat),
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
    }
    for suffix, _ in dict.fromkeys(STAGE_FIELDS.values()):
        m[f"spark.{suffix}"] = sum(j[suffix] for j in jobs)
    m["merge.s"] = merge.end - merge.start
    m["merge.discover_s"], m["merge.write_s"] = _merge_split(merge)
    m["merge.jobs"] = len(merge.jobs)
    for k, v in res.merge_facts.get(op, {}).items():
        m[f"merge.{k}"] = v
    for suffix in UDF_SQL_METRICS.values():
        m[f"udf.{suffix}"] = counters.get("udf", {}).get(suffix, 0.0)
    m["_self"] = {k: v for k, v in selfs.items() if k in BATCH_LAYERS}
    return m


def _read_metrics(res, op: str) -> dict:
    sp = next(s for s in res.tracer.spans if s.op == op and s.name == "read")
    return {
        "read.s": sp.end - sp.start,
        "read.jobs": len(sp.jobs),
        "read.files": sp.attrs.get("files", 0),
        "read.bytes_scanned": sum(j["input_bytes"] for j in sp.jobs),
    }


def _dlq_rows(res) -> float:
    dlq = Path(res.worker.quarantine_dir)
    rows = sum(pq.read_metadata(f).num_rows for f in dlq.rglob("*.parquet")) if dlq.exists() else 0
    return rows / len(res.drain.merged)


def per_layer(res) -> tuple[dict, dict]:
    """(per-layer metrics, summary) of a traced run."""
    ops = sorted({s.op for s in res.tracer.spans})
    batch_ops = [o for o in ops if o.startswith("batch-")]
    read_ops = [o for o in ops if o.startswith("read-")]
    batches = [_batch_metrics(res, o) for o in batch_ops]
    reads = [_read_metrics(res, o) for o in read_ops]

    out = {}
    for name in UNITS:
        vals = [b[name] for b in batches if name in b] or [r[name] for r in reads if name in r]
        if vals:
            out[name] = median(vals)
    idx = [int(o.split("-")[1]) for o in batch_ops]
    out["worker.useful_id_frac"] = median(
        len(res.known[b]) / len(res.lines[b]) for b in idx
    )
    out["worker.dlq_rows"] = _dlq_rows(res)

    from drain import WARMUP_BATCHES as first

    walls = res.drain.batch_s
    traced = [walls[b - first] for b in idx]
    untraced = [w for i, w in enumerate(walls) if i + first not in idx]
    layers = {k: median(b["_self"].get(k, 0.0) for b in batches) for k in BATCH_LAYERS}
    total = sum(layers.values())
    dominant = max(layers, key=layers.get)
    out["trace.self_sum_frac"] = median(
        sum(b["_self"].values()) / w for b, w in zip(batches, traced)
    )
    out["trace.overhead_frac"] = (median(traced) / median(untraced) - 1.0) if untraced else 0.0
    out["trace.dominant_share"] = layers[dominant] / total
    summary = {
        "traced_batches": len(batches),
        "untraced_batches": len(untraced),
        "traced_reads": len(reads),
        "counter_read_s": res.tracer.collect_s,
        "self_s_per_batch": layers,
        "dominant_layer": dominant,
        "merge_split_s": {"discover": out.get("merge.discover_s"), "write": out.get("merge.write_s")},
    }
    missing = [k for k in UNITS if k not in out]
    if missing:
        raise RuntimeError(f"traced run produced no value for {missing}")
    return out, summary
