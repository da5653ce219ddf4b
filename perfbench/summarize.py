"""Per-layer metrics and the self-time/counter table of a traced run.

    python3 perfbench/summarize.py perfbench/.traces/serve-seed1.jsonl

prints the table of a span file written by ``run.py --trace 1``.
"""

from __future__ import annotations

import sys
from collections import defaultdict

if __package__ in (None, ""):  # run as a script
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import COUNTERS, Span, median, outside_stage_s, read_spans, self_times, subtree_counters

QUERIES = (
    "q_join_multiway q_join_inner_left q_join_semi_anti q_agg_groupby"
    " q_agg_count_distinct q_agg_rollup_cube q_agg_heavy_hitters"
    " q_win_rank_topk_per_group q_win_auc q_win_suite q_join_asof"
    " q_events_funnel q_stream_session q_join_range q_join_bloom_pruned"
    " q_filter_suite q_set_ops q_matview_rollup"
).split()
OPERATOR_MODULES = ("joins", "aggregates", "windows", "temporal", "bloom", "filters", "setops", "matview")
SPAN_LAYERS = ("rag.hybrid", "rag.dense", "bm25.lexical")
WRITE_SPANS = ("ingest.pipeline_append", "ingest.rag_append", "ingest.dedup")

# (name, unit, better): every per-layer metric, in BENCHMARK.json order.
# Spark counters are per block of the workload; a layer the workload does
# not use reads 0.
PER_LAYER: list[tuple[str, str, str]] = [
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.exec_run_s", "s", "lower"),
    ("spark.exec_cpu_s", "s", "lower"),
    ("spark.cpu_per_run", "ratio", "higher"),
    ("spark.outside_stage_s", "s", "lower"),
    ("spark.input_bytes", "B", "lower"),
    ("spark.output_bytes", "B", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("ml.macau_s", "s", "lower"),
    ("ml.predict_s", "s", "lower"),
    ("ml.jobs_per_sweep", "count", "lower"),
    ("ml.shuffle_bytes_per_cell_sweep", "B", "lower"),
    *[m for layer in SPAN_LAYERS for m in (
        (f"{layer}_s", "s", "lower"),
        (f"{layer}.jobs", "count", "lower"),
        (f"{layer}.input_bytes", "B", "lower"),
    )],
    ("ingest.pipeline_append_s", "s", "lower"),
    ("ingest.rag_append_s", "s", "lower"),
    ("ingest.dedup_s", "s", "lower"),
    ("ingest.probe_s", "s", "lower"),
    ("ingest.compact_s", "s", "lower"),
    ("ingest.write_amp", "ratio", "lower"),
    ("ingest.files", "count", "lower"),
    ("ingest.epochs", "count", "lower"),
    *[m for mod in OPERATOR_MODULES for m in (
        (f"operators.{mod}_s", "s", "lower"),
        (f"operators.{mod}.jobs", "count", "lower"),
    )],
    *[m for q in QUERIES for m in ((f"q.{q}_s", "s", "lower"), (f"q.{q}.jobs", "count", "lower"))],
    ("trace.overhead_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.bookkeeping_s", "s", "lower"),
]


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(
    spans: list[Span], traced: list[float], untraced: list[float], info: dict
) -> dict[str, float]:
    """Every ``PER_LAYER`` metric from the spans of a traced run.

    ``traced`` holds the durations of the traced blocks, ``untraced`` those
    of the same blocks run with tracing off; ``info`` the workload's
    denominators (``sweeps``, ``train_cells``, ``shard_bytes``), end state
    (``files``, ``epochs``) and the tracer's own ``bookkeeping_s``. Counts
    and times are per block."""
    out = dict.fromkeys((name for name, _, _ in PER_LAYER), 0.0)
    roots = [s for s in spans if s.parent is None]
    n_blocks = len(traced) or 1
    total = defaultdict(float)
    for s in spans:
        for k, v in s.counters.items():
            total[k] += v
    for k in COUNTERS:
        out[f"spark.{k}"] = total[k] / n_blocks
    out["spark.cpu_per_run"] = total["exec_cpu_s"] / total["exec_run_s"] if total["exec_run_s"] else 0.0
    out["spark.outside_stage_s"] = sum(outside_stage_s(spans, r) for r in roots) / n_blocks

    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def dur(name: str) -> float:
        return _mean([s.duration for s in by_name[name]])

    def counter(name: str, key: str) -> float:
        return _mean([subtree_counters(spans, s)[key] for s in by_name[name]])

    out["ml.macau_s"] = dur("ml.macau")
    out["ml.predict_s"] = dur("ml.predict")
    if by_name["ml.macau"]:
        sweeps = info["sweeps"]
        out["ml.jobs_per_sweep"] = counter("ml.macau", "jobs") / sweeps
        out["ml.shuffle_bytes_per_cell_sweep"] = (
            counter("ml.macau", "shuffle_write_bytes") / (info["train_cells"] * sweeps)
        )
    for layer in SPAN_LAYERS:
        out[f"{layer}_s"] = dur(layer)
        out[f"{layer}.jobs"] = counter(layer, "jobs")
        out[f"{layer}.input_bytes"] = counter(layer, "input_bytes")
    for name in (*WRITE_SPANS, "ingest.probe", "ingest.compact"):
        out[f"{name}_s"] = dur(name)
    if info.get("shard_bytes"):
        written = sum(subtree_counters(spans, s)["output_bytes"] for n in WRITE_SPANS for s in by_name[n])
        out["ingest.write_amp"] = written / info["shard_bytes"]
    out["ingest.files"] = float(info.get("files", 0))
    out["ingest.epochs"] = float(info.get("epochs", 0))

    selfs = self_times(spans)
    for q in QUERIES:
        qs = by_name[f"q.{q}"]
        out[f"q.{q}_s"] = dur(f"q.{q}")
        out[f"q.{q}.jobs"] = counter(f"q.{q}", "jobs")
        for s in qs:
            mod = s.layer.split(".")[-1]
            out[f"operators.{mod}_s"] += selfs[s.span_id] / n_blocks
            out[f"operators.{mod}.jobs"] += s.counters.get("jobs", 0.0) / n_blocks

    # the untraced blocks run before and after the traced ones, so drift
    # within the run largely cancels; the bookkeeping time is the tracer's
    # own cost alone
    if traced and untraced:
        base = median(untraced)
        out["trace.overhead_s"] = median(traced) - base
        out["trace.overhead_frac"] = out["trace.overhead_s"] / base
    out["trace.bookkeeping_s"] = info.get("bookkeeping_s", 0.0) / n_blocks
    return out


def table(spans: list[Span]) -> str:
    """Per span name: calls, total and self seconds, and Spark counters."""
    selfs = self_times(spans)
    rows: dict[str, dict[str, float]] = {}
    for s in spans:
        r = rows.setdefault(s.name, defaultdict(float))
        r["n"] += 1
        r["total_s"] += s.duration
        r["self_s"] += selfs[s.span_id]
        for k, v in s.counters.items():
            r[k] += v
    cols = ("n", "total_s", "self_s", "jobs", "stages", "tasks", "exec_run_s",
            "input_bytes", "output_bytes", "shuffle_write_bytes")
    width = max([len("span")] + [len(n) for n in rows])
    lines = [f"{'span':<{width}} " + " ".join(f"{c:>19}" for c in cols)]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:<{width}} " + " ".join(
            f"{r[c]:>19.3f}" if c.endswith("_s") else f"{int(r[c]):>19d}" for c in cols
        ))
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(f"usage: {sys.argv[0]} SPANS.jsonl")
    print(table(read_spans(sys.argv[1])))
