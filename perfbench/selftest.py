"""Self-test of the benchmark: metric names, units and failure counting.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (or the ones named) from the repository root at the
smallest run length, twice:

- `--trace 0 --plant-wrong-row`: every end-to-end metric of BENCHMARK.json
  is emitted with its unit, and the one planted wrong row is counted as
  exactly one failed operation;
- `--trace 1`: every per-layer metric is emitted with its unit, no
  operation failed, and a metric is non-zero exactly when the workload
  runs its layer (the record's `layers`), apart from MAY_BE_ZERO.

Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# metrics of a layer the workload runs that may be 0 on unmodified code:
# no join spills at these sizes, no operation need leak a cache, no
# collection need fall inside a task, and the traced pass need not be
# slower than the untraced one
MAY_BE_ZERO = {"operators.spatial_join.spill_bytes",
               "session.persisted_rdds", "session.gc_s",
               "session.trace_overhead_s"}


def _run(workload: str, trace: int, plant: bool) -> tuple[dict, dict]:
    """(result line, full record) of one run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "0.1",
           "--trace", str(trace)] + (["--plant-wrong-row"] if plant else [])
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                         f"{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


def _expect_metrics(result: dict, specs: list[dict], where: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in specs}
    if set(got) != set(want):
        raise SystemExit(f"{where}: metrics {sorted(got)} != {sorted(want)}")
    for name, unit in want.items():
        m = got[name]
        if m.get("unit") != unit or not isinstance(
                m.get("value"), (int, float)):
            raise SystemExit(f"{where}: {name} = {m}, want unit {unit!r}")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = argv or [w["name"] for w in bench["workloads"]]
    for name in names:
        planted, _ = _run(name, 0, plant=True)
        _expect_metrics(planted, bench["end_to_end"], f"{name} trace 0")
        if planted["failed"] != 1 or planted["correct"]:
            raise SystemExit(f"{name}: planted wrong row counted as "
                             f"{planted['failed']} failed operations")
        traced, record = _run(name, 1, plant=False)
        _expect_metrics(traced, bench["per_layer"], f"{name} trace 1")
        if traced["failed"] or not traced["correct"]:
            raise SystemExit(f"{name}: {traced['failed']} operations "
                             "failed in the traced run")
        for metric, m in traced["metrics"].items():
            layer = metric.rsplit(".", 1)[0]
            runs = layer == "session" or layer in record["layers"]
            if runs != bool(m["value"]) and metric not in MAY_BE_ZERO:
                verb = "runs" if runs else "does not run"
                raise SystemExit(f"{name}: {metric} = {m['value']}, but "
                                 f"the workload {verb} {layer}")
        print(f"{name}: ok ({planted['attempted']} + "
              f"{traced['attempted']} operations)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
