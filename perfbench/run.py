"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload chain_follow --seed 1 --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics of BENCHMARK.json;
``--trace 1`` re-runs the workload with spans around every layer's public
calls and prints the per-layer metrics instead.  The full record of a
run (protocol, per-layer detail, correctness report, spans) goes to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import (  # noqa: E402
    DRIVER_MEMORY, ROOT, SCHEMA_VERSION, WORK, cpus, keep_inside_checkout,
    program_present, stop_jvm,
)

WORKLOADS = ("chain_follow", "serve_live", "catalog_slice")
# workload-level numbers reported beside the layers in traced runs
WL_METRICS = ("ingest_blocks_per_s", "reorg_recovery_p50_s", "freshness_p50_s",
              "freshness_p90_s", "read_p99_ms", "logs_p50_ms", "catalog_wall_s",
              "catalog_geomean_s")


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _metrics(values: dict, specs: list[dict]) -> dict:
    out = {}
    for m in specs:
        v = values.get(m["name"], 0)
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {m['name']} has no finite value: {v!r}")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not program_present():
        print("perfbench: the engine (rust_evm_indexer_spark/) is not in "
              f"{ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    keep_inside_checkout()

    from build import ensure_built
    from spans import NullTracer, Tracer

    built = ensure_built()

    tracer = Tracer() if args.trace else NullTracer()
    t_run = time.perf_counter()
    if args.workload == "catalog_slice":
        from catalog_slice import catalog_slice as run
    else:
        import lifecycle

        run = getattr(lifecycle, args.workload)
    try:
        res = run(args.seed, args.seconds, tracer)
    finally:
        stop_jvm()

    detail = res["detail"]
    for k in WL_METRICS:
        if detail.get(k) is not None:
            res["layers"][f"wl.{k}"] = detail[k]
    spec = _spec()
    specs = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    record = {
        "protocol": {
            "schema": SCHEMA_VERSION,
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "spark.driver.memory": os.environ["SPARK_DRIVER_MEMORY"],
            **res.get("protocol", {}),
        },
        "run_wall_s": time.perf_counter() - t_run,
        "build_s": built,
        **{k: res[k] for k in ("correct", "attempted", "failed", "e2e", "detail", "layers")},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (WORK / "results" / f"{tag}.json").write_text(json.dumps(record, indent=1, default=str))
    if args.trace:
        tracer.dump(WORK / "results" / f"{tag}.spans.jsonl")
    print(json.dumps(record["protocol"]), file=sys.stderr)
    line = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": _metrics(values, specs),
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
