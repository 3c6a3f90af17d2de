"""Record the committed traced run of one workload.

Usage (from the root of a checkout):

    python3 perfbench/record.py --workload W --seed N --seconds S

Runs the workload untraced, then traced, with the same seed, and writes
``perfbench/traces/<workload>.json``: the box, both runs' end-to-end
numbers, the per-layer metrics, the span tree, the per-op table, the
tracing overhead (traced minus untraced ``ops_per_s``) and the readings
each workload's trace exists to answer.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    info = json.loads(out[-2])["info"]
    with open(os.path.join(ROOT, info["record"])) as fh:
        return json.load(fh)


def readings(workload: str, traced: dict) -> dict:
    """The shares each workload's trace exists to answer."""
    pl = traced["per_layer"]
    lat = traced["latencies"]
    if workload == "catalog_mix":
        out = {f"{name}.build_share": e["build_s"] / e["op_s"]
               for name, e in traced["by_op"].items()
               if name.startswith("sim_")}
        out["plans_build_share_of_mean_op"] = pl["plans.build_s"] / (
            sum(lat) / len(lat))
        return out
    stages = sum(v for k, v in pl.items()
                 if k.startswith("pipeline.") and k.endswith("_s"))
    slow = traced["slowest_op"]
    vacuum = slow["by_span"].get("vacuum", 0.0)
    return {
        "pipeline_stage_s_per_day": stages,
        "streaming_fold_self_s_per_day": pl["streaming.fold_s"],
        "traced_mean_op_s": sum(lat) / len(lat),
        "pipeline_stage_share_of_mean_op": stages / (sum(lat) / len(lat)),
        "slowest_op": slow["label"],
        "slowest_op_s": slow["s"],
        "vacuum_s_in_slowest_op": vacuum,
        "vacuum_share_of_slowest_op": vacuum / slow["s"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    untraced_ops = plain["end_to_end"]["ops_per_s"]
    traced_ops = traced["per_layer"]["trace.ops_per_s"]
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "box": traced["info"]["box"],
        "input_sha256": traced["info"]["input_sha256"],
        "end_to_end_untraced": plain["end_to_end"],
        "tracing_overhead": {
            "untraced_ops_per_s": untraced_ops,
            "traced_ops_per_s": traced_ops,
            "traced_minus_untraced_ops_per_s": traced_ops - untraced_ops,
            "share": (traced_ops - untraced_ops) / untraced_ops,
        },
        "readings": readings(args.workload, traced),
        "per_layer": traced["per_layer"],
        "by_op": traced["by_op"],
        "slowest_op": traced["slowest_op"],
        "unattributed_jobs": traced["unattributed_jobs"],
        "traced_latencies": [list(p) for p in zip(traced["labels"],
                                                  traced["latencies"])],
        "span_tree": traced["span_tree"],
    }
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    path = os.path.join(HERE, "traces", f"{args.workload}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
