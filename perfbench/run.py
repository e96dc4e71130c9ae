"""Benchmark runner.

    python3 perfbench/run.py --workload feature_job --seed 1 --seconds 9 --trace 0

Run from the repository root. One run is one workload in one driver
process on a ``local[<cores>]`` session: generate the seeded inputs
(untimed), set up (session start, input read, the warm-up repetitions),
then repeat the workload in a closed loop, each repetition starting
after the previous one ends, until ``--seconds`` have passed. Every
repetition's output is checked. ``--trace 1`` adds one traced
repetition after the timed loop and prints the per-layer metrics instead
of the end-to-end ones. The last stdout line is one JSON object; the
lines before it, prefixed "#", give every metric with its unit and
sample count plus the host context.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
# Input rows per workload. feature_job's repetition is mostly its 13
# Spark jobs' fixed cost (about 3.2 s, plus 0.1 s per 1k turns on the
# 4-vCPU VM in README.md); at 10k turns a 9 s run times two or three.
SIZES = {
    "full": {"feature_job": 10_000, "reshape": 30_000, "n_docs": 500, "n_vecs": 500},
    "tiny": {"feature_job": 2000, "reshape": 2000, "n_docs": 300, "n_vecs": 500},
}
# The seed picks one of INPUT_SETS seeded input sets (seed mod INPUT_SETS);
# pins.json holds the output fingerprint of each at the full sizes, so the
# output of every full-size run is checked against a pinned value.
INPUT_SETS = 21
# heap share of physical memory: the machine is shared, and the JVM's
# off-heap use plus the Python workers come on top of the heap
HEAP_SHARE = 0.125


def host_sizing() -> tuple[int, int]:
    """(cores this process may run on, driver heap in MiB from MemTotal)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return cores, max(1024, int(mem_kib / 1024 * HEAP_SHARE))


def prepare_environment(heap_mb: int) -> None:
    """Keep everything the run writes inside the benchmark's work dir and
    let Spark's Python workers import the program."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_DRIVER_MEMORY=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM and every process it
    started have exited."""
    from pyspark import SparkContext

    from proc import process_table, subtree, wait_gone

    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    tree = subtree(process_table(), jvm.pid) if jvm else []
    try:
        spark.stop()
    finally:
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits at end of its stdin
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        for pid in wait_gone(tree):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        wait_gone(tree)


def make_inputs(workload: str, size: str, input_set: int) -> tuple[dict, float]:
    """Generate (or reuse) one workload's seeded inputs outside every
    timed region; returns (the workload's inputs, generation seconds)."""
    import inputs as gen

    cache = WORK / "cache"
    sizes = SIZES[size]
    inp = {"seed": input_set, "cache": cache, "work": WORK}
    if workload == "corpus":
        inp.update(n_docs=sizes["n_docs"], n_vecs=sizes["n_vecs"])
        inp["corpus_dir"], generate_s = gen.corpus(cache, sizes["n_docs"], sizes["n_vecs"], input_set)
    else:
        inp["n_turns"] = sizes[workload]
        inp["turns_path"], _, generate_s = gen.transcripts(cache, sizes[workload], input_set)
    return inp, generate_s


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def report(name: str, value: float, unit: str, samples: int | str) -> None:
    print(f"# {name:<40} {value:>16.6g} {unit:<6} n={samples}")


@dataclass
class Loop:
    """What the timed closed loop measured."""

    walls: list = field(default_factory=list)
    cpus: list = field(default_factory=list)
    rep_spans: list = field(default_factory=list)
    problems: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    peak_rss: int = 0
    host: dict = field(default_factory=dict)


def timed_loop(spark, wl, first: dict, seconds: float) -> Loop:
    """Repeat the workload until ``seconds`` have passed, each repetition
    starting after the previous one ended, checking every output."""
    from pyspark import SparkContext

    from proc import RssSampler, cpu_jiffies, host_context, tree_cpu_s
    from spans import Tracer

    loop = Loop()
    engine = Tracer(spark)  # only tags each repetition's jobs
    jiffies0 = cpu_jiffies()
    with RssSampler(SparkContext._gateway.proc.pid) as rss:
        start = time.perf_counter()
        while not loop.attempted or time.perf_counter() - start < seconds:
            wl.prepare()
            loop.attempted += 1
            with engine.span("rep") as sp:
                c0, w0 = tree_cpu_s(), time.perf_counter()
                try:
                    res = wl.rep()
                    bad = wl.expected(res)
                    if res["fp"] != first["fp"]:
                        bad.append(f"fingerprint {res['fp']} != warm-up {first['fp']}")
                except Exception:  # noqa: BLE001 — a failed repetition is counted, not fatal
                    traceback.print_exc()
                    bad = ["repetition raised"]
                w1, c1 = time.perf_counter(), tree_cpu_s()
            loop.rep_spans.append(sp)
            if bad:
                loop.failed += 1
                loop.problems += [f"rep {loop.attempted}: {b}" for b in bad]
            else:
                loop.walls.append(w1 - w0)
                loop.cpus.append(c1 - c0)
    loop.peak_rss = rss.peak
    loop.host = host_context(jiffies0, cpu_jiffies())
    return loop


def traced(spark, wl, workload: str, first: dict, loop: Loop, payloads: list,
           names) -> tuple[dict, list]:
    """One traced repetition; returns (the per-layer metrics ``names``,
    problems)."""
    import layers
    import workloads
    from spans import Tracer

    tracer = Tracer(spark)
    wl.prepare()
    with tracer.span("traced") as root:
        res = wl.traced_rep(tracer)
    bad = wl.expected(res)
    if res["fp"] != first["fp"]:
        bad.append(f"fingerprint {res['fp']} != warm-up {first['fp']}")
    tracer.spans += loop.rep_spans
    tracer.collect()

    out = dict.fromkeys(names, 0.0)
    out.update(layers.traced_metrics(root))
    out.update(layers.engine_metrics(loop.rep_spans))
    out.update(loop.host)
    out["trace.overhead_s"] = root.wall_s - statistics.median(loop.walls)
    out["reshape.dead_letter_rows"] = first.get("dead_letters", 0)
    out["asof.null_snapshot_rows"] = first.get("null_snapshots", 0)
    if workload == "feature_job":
        out["checkpoint.spark_jobs"] = out["spark.jobs"]
        files = wl.output_files()
        out["sink.files_written"] = len(files)
        out["sink.bytes_written"] = sum(p.stat().st_size for p in files)
    if payloads:
        specs = {"bench_spec": workloads.BENCH_SPEC}
        if workload == "reshape":
            specs["wildcard_spec"] = workloads.WILDCARD_SPEC
        out.update(layers.jolt_layer(payloads, specs))

    print(f"# trace: layer self times + remainder = traced wall {root.wall_s:.3f} s; "
          f"overhead vs untraced median {out['trace.overhead_s']:.3f} s")

    def show(sp, depth):
        print(f"#   {'  ' * depth}{sp.name:<32} wall {sp.wall_s:8.3f} s "
              f"self {sp.self_s:8.3f} s jobs {sp.jobs}")
        for child in sp.children:
            show(child, depth + 1)

    show(root, 0)
    return out, [f"traced: {b}" for b in bad]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-check input sizes")
    args = ap.parse_args(argv)

    # a terminated run still stops Spark: SystemExit runs the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import fluvio_jolt_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import layers
    import workloads

    end_to_end, per_layer = metric_units()

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    size = "tiny" if args.tiny else "full"
    cores, heap_mb = host_sizing()
    prepare_environment(heap_mb)

    input_set = args.seed % INPUT_SETS
    inp, generate_s = make_inputs(args.workload, size, input_set)
    payloads = []
    if "turns_path" in inp:
        import pyarrow.parquet as pq

        texts = pq.read_table(inp["turns_path"], columns=["text"]).column("text")
        payloads = texts.slice(0, layers.JOLT_SAMPLE).to_pylist()

    from fluvio_jolt_spark.plans.session import build_session

    problems: list[str] = []
    metrics: dict[str, float] = {}
    attempted = failed = 0
    spark = None
    try:
        # set-up: session start + input read + the warm-up repetitions
        t0 = time.perf_counter()
        spark = build_session(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            },
        )
        wl = workloads.WORKLOADS[args.workload](spark, inp)
        warm = []
        for _ in range(wl.warmups):
            wl.prepare()
            warm.append(wl.rep())
        setup_s = time.perf_counter() - t0
        first = warm[0]
        attempted += len(warm)
        for res in warm:
            bad = wl.expected(res)
            if res["fp"] != first["fp"]:
                bad.append(f"fingerprint {res['fp']} != first warm-up {first['fp']}")
            failed += bool(bad)
            problems += [f"warm-up: {b}" for b in bad]
        pinned = json.loads((HERE / "pins.json").read_text()).get(
            f"{args.workload}/{size}/{input_set}")
        if pinned is None and size == "full":
            problems.append(f"no pinned fingerprint for input set {input_set}")
        elif pinned is not None and pinned != first["fp"]:
            problems.append(f"fingerprint {first['fp']} != pinned {pinned}")

        loop = timed_loop(spark, wl, first, args.seconds)
        attempted += loop.attempted
        failed += loop.failed
        problems += loop.problems + wl.final_check()

        print(f"# workload={args.workload} seed={args.seed} input_set={input_set} size={size} "
              f"rows={wl.n} {wl.rows_label} cores={cores} heap={heap_mb}m "
              f"driver=local[{cores}] shuffle_partitions={cores}")
        pin_note = "not pinned at this size" if pinned is None else (
            "matches pin" if pinned == first["fp"] else "DIFFERS from pin")
        print(f"# fingerprint={first['fp']} ({pin_note})")
        print("# rep walls s: " + " ".join(f"{w:.3f}" for w in loop.walls))
        for k, v in loop.host.items():
            report(k, v, per_layer[k], "timed region")
        if loop.walls:
            wall = statistics.median(loop.walls)
            metrics = {
                "rows_per_s": wl.n / wall,
                "wall_s": wall,
                "cpu_s": statistics.median(loop.cpus),
                "peak_rss_mb": loop.peak_rss / 1e6,
                "setup_s": setup_s,
            }
        for k, v in metrics.items():
            report(k, v, end_to_end[k],
                   1 if k in ("setup_s", "peak_rss_mb") else len(loop.walls))

        if args.trace and loop.walls:
            attempted += 1
            metrics, bad = traced(spark, wl, args.workload, first, loop, payloads,
                                   per_layer)
            metrics["sources.generate_s"] = generate_s
            failed += bool(bad)
            problems += bad
            for k, v in metrics.items():
                report(k, v, per_layer[k],
                       len(loop.rep_spans) if k.startswith("spark.") else 1)
        wl.close()
    except Exception:  # noqa: BLE001 — report the failure, then stop Spark
        traceback.print_exc()
        problems.append("run aborted")
        metrics = {}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(WORK / "tmp", ignore_errors=True)

    for p in problems:
        print(f"# CHECK FAILED: {p}")
    units = per_layer if args.trace else end_to_end
    correct = not problems and set(metrics) == set(units)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
