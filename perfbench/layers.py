"""The traced-run report: for each workload, one untraced and one traced
run on the same seed, the self time per layer, how much of the measured
wall the traced spans cover, and the tracing overhead (traced minus
untraced end-to-end metric).  Also records ``chain_follow`` once at
``SPARK_GRAFT_CPUS=1`` as the single-core baseline.

    python3 perfbench/layers.py [--seed N] [--seconds S] [--out FILE]

Writes ``.perfbench/layers.json`` (or ``--out``) and prints a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import ROOT, WORK  # noqa: E402
from spans import LAYERS  # noqa: E402

WORKLOADS = ("chain_follow", "serve_live", "catalog_slice")
# the wall each workload's spans should cover, from its run record
WALL = {"chain_follow": "wall_s", "serve_live": "wall_s", "catalog_slice": "catalog_wall_s"}


def run(workload: str, seed: int, seconds: float, trace: int, env=None) -> dict:
    subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL, env=env,
    )
    tag = f"{workload}-seed{seed}-trace{trace}"
    return json.loads((WORK / "results" / f"{tag}.json").read_text())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--out", type=Path, default=WORK / "layers.json")
    args = ap.parse_args()

    report: dict = {}
    for w in WORKLOADS:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        lay = traced["layers"]
        wall = traced["detail"][WALL[w]]
        self_s = {layer: lay[f"{layer}.self_s"] for layer in LAYERS}
        report[w] = {
            "correct": plain["correct"] and traced["correct"],
            "self_s": self_s,
            "self_sum_s": sum(v for k, v in self_s.items() if k != "session"),
            "wall_s": wall,
            "coverage": lay["trace.coverage"],
            "spans": lay["trace.spans"],
            "overhead": {
                m: {"untraced": plain["e2e"][m], "traced": traced["e2e"][m],
                    "traced_minus_untraced": traced["e2e"][m] - plain["e2e"][m]}
                for m in ("op_p50_ms", "ops_per_s")
            },
            "layers": lay,
        }
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1"}
    one = run("chain_follow", args.seed, args.seconds, 1, env=env)
    report["chain_follow_1cpu"] = {
        "e2e": one["e2e"], "detail": {k: one["detail"][k] for k in (
            "ingest_blocks_per_s", "ingest_cycle_p50_s", "reorg_recovery_p50_s")},
        "self_s": {layer: one["layers"][f"{layer}.self_s"] for layer in LAYERS},
    }
    args.out.write_text(json.dumps(report, indent=1))
    for w in WORKLOADS:
        r = report[w]
        print(f"{w}: wall {r['wall_s']:.2f}s, spans cover {100 * r['coverage']:.1f}%, "
              f"layer self-time sum {r['self_sum_s']:.2f}s")
        for layer, v in sorted(r["self_s"].items(), key=lambda kv: -kv[1]):
            if v:
                print(f"    {layer:10s} {v:8.3f}s")
        for m, o in r["overhead"].items():
            print(f"    overhead {m}: {o['untraced']:.4g} -> {o['traced']:.4g} "
                  f"({o['traced_minus_untraced']:+.4g})")
    c = report["chain_follow_1cpu"]
    print(f"chain_follow @1 cpu: {c['detail']}")


if __name__ == "__main__":
    main()
