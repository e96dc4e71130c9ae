"""The per-layer readings of a traced repetition.

Every per-layer metric named in BENCHMARK.json is printed on every
workload. A layer that a workload does not run reads 0 there (no Jolt
in ``corpus``, no checkpoint or sink outside ``feature_job``).
"""

from __future__ import annotations

import statistics
import time

JOLT_SAMPLE = 2000


def jolt_layer(texts: list[str], specs: dict[str, str]) -> dict:
    """Single-threaded Jolt kernel cost on the workload's own payloads:
    µs per record through ``jolt_transform_values`` (compile excluded by
    its per-process memo) and µs per ``TransformSpec.from_json``."""
    from fluvio_jolt_spark.jolt.compiler import TransformSpec
    from fluvio_jolt_spark.operators.reshape import jolt_transform_values

    out = {}
    compile_us = 0.0
    for key, spec in specs.items():
        jolt_transform_values(texts, spec)  # compile and warm
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            _, errs = jolt_transform_values(texts, spec)
            times.append(time.perf_counter() - t0)
        if any(errs):
            raise ValueError(f"{key}: Jolt errors on the payload sample")
        out[f"jolt.us_per_rec.{key}"] = statistics.median(times) / len(texts) * 1e6
        compiles = []
        for _ in range(50):
            t0 = time.perf_counter()
            TransformSpec.from_json(spec)
            compiles.append(time.perf_counter() - t0)
        compile_us += statistics.median(compiles) * 1e6
    if specs:
        out["jolt.compile_us"] = compile_us
    return out


def _median_over(spans, fn) -> float:
    return statistics.median(fn(s) for s in spans) if spans else 0.0


def engine_metrics(rep_spans) -> dict:
    """Spark's own counters per untraced repetition (median over reps)."""
    return {
        "spark.jobs": _median_over(rep_spans, lambda s: s.jobs),
        "spark.stages": _median_over(rep_spans, lambda s: len(s.stages)),
        "spark.tasks": _median_over(rep_spans, lambda s: s.stage_sum("tasks")),
        "spark.executor_run_s": _median_over(rep_spans, lambda s: s.stage_sum("run_s")),
        "spark.executor_cpu_s": _median_over(rep_spans, lambda s: s.stage_sum("cpu_s")),
        "spark.gc_s": _median_over(rep_spans, lambda s: s.stage_sum("gc_s")),
        "spark.shuffle_write_bytes": _median_over(
            rep_spans, lambda s: s.stage_sum("shuffle_write_bytes")),
        "spark.shuffle_read_bytes": _median_over(
            rep_spans, lambda s: s.stage_sum("shuffle_read_bytes")),
        "spark.spill_bytes": _median_over(rep_spans, lambda s: s.stage_sum("spill_bytes")),
    }


def _is_write(plan: str) -> bool:
    return "InsertIntoHadoopFsRelationCommand" in plan


def traced_metrics(root) -> dict:
    """Per-layer readings from one traced repetition's span tree."""
    spans, todo = [], [root]
    while todo:
        sp = todo.pop()
        spans.append(sp)
        todo.extend(sp.children)

    def named(name):
        return [s for s in spans if s.name == name]

    def total(group, fn):
        return sum(fn(s) for s in group)

    nodes = [n for s in spans for n in s.nodes]
    stages = [st for s in spans for st in s.stages]
    reshape = named("reshape")
    window = named("window")
    asof = named("asof")
    sink = named("sink")
    ckpt = named("checkpoint") + sink
    corpus = [s for s in spans if s.name.startswith("corpus.")]
    robin = [m for name, desc, m in nodes if name == "Exchange" and "RoundRobin" in desc]
    skew = [
        st["task_max_s"] / st["task_med_s"]
        for s in window for st in s.stages
        if st["tasks"] > 1 and st["task_med_s"] > 0
    ]
    out = {
        "reshape.python_run_s": total(
            reshape, lambda s: s.metric_sum("MapInArrow", "time to run Python workers")),
        "reshape.python_start_s": total(
            reshape, lambda s: s.metric_sum("MapInArrow", "time to start Python workers")),
        "reshape.bytes_to_python": total(
            reshape, lambda s: s.metric_sum("MapInArrow", "data sent to Python workers")),
        "reshape.bytes_from_python": total(
            reshape, lambda s: s.metric_sum("MapInArrow", "data returned from Python workers")),
        "partitioning.fan_out_exchanges": len(robin),
        "partitioning.repair_shuffle_bytes": sum(m.get("shuffle bytes written", 0.0) for m in robin),
        "sources.scan_s": sum(m.get("scan time", 0.0) for name, _, m in nodes
                              if name.startswith("Scan ")),
        "sources.input_bytes": sum(m.get("size of files read", 0.0) for name, _, m in nodes
                                   if name.startswith("Scan ")),
        "sources.scan_tasks": sum(st["tasks"] for st in stages if st["input_records"] > 0),
        "window.s": total(window, lambda s: s.self_s),
        "window.shuffle_bytes": total(window, lambda s: s.stage_sum("shuffle_write_bytes")),
        "skew.max_over_median_task_s": max(skew, default=0.0),
        "asof.s": total(asof, lambda s: s.self_s),
        "asof.shuffle_bytes": total(asof, lambda s: s.stage_sum("shuffle_write_bytes")),
        "checkpoint.count_s": sum(secs for s in ckpt for plan, secs in s.executions
                                  if not _is_write(plan)),
        "sink.write_s": sum(secs for s in sink for plan, secs in s.executions
                            if _is_write(plan)),
        "corpus.shuffle_bytes": total(corpus, lambda s: s.stage_sum("shuffle_write_bytes")),
        "corpus.spill_bytes": total(corpus, lambda s: s.stage_sum("spill_bytes")),
        "trace.wall_s": root.wall_s,
        "trace.remainder_s": root.self_s,
    }
    for s in corpus:
        out[f"{s.name}.s"] = s.wall_s
    return out
