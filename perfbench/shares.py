#!/usr/bin/env python3
"""Where a traced run's op time goes, as shares of the mean op latency.

    python3 perfbench/shares.py <workload> <seed>

Reads the spans and the report that `run.py ... --trace 1` wrote under
.bench_build/perfbench/. The first table gives each layer call the
benchmark made, with its total time and its self time (the span minus its
children); self times add up to the op latency. The second splits op time
by what Spark was doing: time with a stage running (its longest task, and
the rest of the stage's wall time: tasks queued behind busy cores and
scheduling), and time with no stage running, which is the driver alone
(parse, plan, job submission, result handling, driver-side estimators).
"""
import json
import sys
from collections import defaultdict
from pathlib import Path

WORK = Path(__file__).resolve().parent.parent / ".bench_build" / "perfbench"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    tag = f"{sys.argv[1]}-seed{sys.argv[2]}-trace1"
    spans = [json.loads(l) for l in (WORK / f"{tag}.spans.jsonl").read_text().splitlines()]
    layer = json.loads((WORK / f"{tag}.report.json").read_text())["per_layer"]
    ops = [s for s in spans if s["op"] >= 0 and s["parent"] == -1]
    if not ops:
        sys.exit("no traced ops")
    wall = sum(s["ms"] for s in ops)
    per_op = wall / len(ops)
    ids = {s["op"] for s in ops}
    total_ms, self_ms = defaultdict(float), defaultdict(float)
    for s in spans:
        if s["op"] in ids:
            name = "harness (op body)" if s["name"].startswith("op.") else s["name"]
            total_ms[name] += s["ms"]
            self_ms[name] += s["self_ms"]

    print(f"{tag}: {len(ops)} traced ops, mean latency {per_op:.1f} ms")
    print(f"\n  {'by layer call, per op':<28}{'total':>13}{'self':>13}")
    for name in sorted(self_ms, key=lambda k: -total_ms[k]):
        t, s = total_ms[name] / len(ops), self_ms[name] / len(ops)
        print(f"  {name:<28}{t:>7.1f} {t / per_op:>5.0%}{s:>7.1f} {s / per_op:>5.0%}")

    v = lambda k: layer[k]["value"]
    stage, wait = v("spark.stage_wall_ms"), v("spark.sched_wait_ms")
    print("\n  by Spark activity, per op")
    for name, ms in [("longest task of each stage", stage - wait),
                     ("rest of stage wall time", wait),
                     ("no stage running (driver)", per_op - stage)]:
        print(f"  {name:<28}{ms:>7.1f} {ms / per_op:>5.0%}")
    print(f"\n  jobs/op {v('spark.jobs'):.2f}, tasks/op {v('spark.tasks'):.2f}, "
          f"task cpu {v('spark.task_cpu_ms'):.1f} ms/op, core_util {v('spark.core_util'):.3f}")


if __name__ == "__main__":
    main()
