"""Pin the output fingerprint of every workload on every input set.

    python3 perfbench/pin.py

Runs each workload named in BENCHMARK.json once per input set (see
``INPUT_SETS`` in run.py) at the full sizes, in one Spark session, and
writes ``perfbench/pins.json``. run.py fails a full-size run whose output
fingerprint differs from the pinned value, so re-pin only for a change
that is meant to alter the outputs, and say so.
"""

from __future__ import annotations

import json
import sys

from run import (HERE, INPUT_SETS, ROOT, host_sizing, make_inputs, prepare_environment,
                 stop_spark)


def main() -> int:
    sys.path[:0] = [str(ROOT), str(HERE)]
    cores, heap_mb = host_sizing()
    prepare_environment(heap_mb)
    import workloads
    from fluvio_jolt_spark.plans.session import build_session

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    pins = {}
    spark = build_session(app_name="perfbench-pin", master=f"local[{cores}]",
                          shuffle_partitions=cores,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        for input_set in range(INPUT_SETS):
            for wl_spec in bench["workloads"]:
                name = wl_spec["name"]
                inp, _ = make_inputs(name, "full", input_set)
                wl = workloads.WORKLOADS[name](spark, inp)
                wl.prepare()
                res = wl.rep()
                wl.close()
                bad = wl.expected(res)
                if bad:
                    raise ValueError(f"{name} input set {input_set}: {bad}")
                pins[f"{name}/full/{input_set}"] = res["fp"]
                print(name, input_set, res["fp"], flush=True)
    finally:
        stop_spark(spark)
    (HERE / "pins.json").write_text(json.dumps(dict(sorted(pins.items())), indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
