"""Self-test of the benchmark at tiny sizes (about four minutes on 4 cores).

    python3 jobbench/selftest.py

Checks, by running ``run.py`` in a subprocess with the benchmark arguments:
- every metric BENCHMARK.json names is printed, with its unit, by the
  untraced run of every workload and by a traced run;
- a correct run reports no failed document;
- two runs of one seed print the same ``output_digest``;
- deleting one committed row makes ``docs_failed_frac`` greater than 0;
- a blended kernel that raises on every page (``fault_daemon.py``) is
  caught by the exception-guard check, though the committed rows match the
  equally faulty oracle.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


def run(workload: str, *extra: str, trace: int = 0) -> tuple[dict, dict]:
    """One tiny run; returns (its report line, its result line)."""
    cmd = [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def check_metrics(result: dict, specs: list[dict], what: str) -> None:
    got = result["metrics"]
    for spec in specs:
        m = got.get(spec["name"])
        expect(m is not None and m["unit"] == spec["unit"] and isinstance(m["value"], (int, float)),
               f"{what}: {spec['name']} [{spec['unit']}]")
    expect(set(got) == {s["name"] for s in specs}, f"{what}: no metric beyond BENCHMARK.json")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    report, result = run(spec["workloads"][0]["name"], "--drop-committed-row")
    expect(report["docs_failed_frac"] > 0 and result["failed"] > 0 and not result["correct"],
           "a deleted committed row makes docs_failed_frac > 0")
    report, result = run("blended_job", "--kernel-fault")
    expect(report["checks"]["guard_rows"] > 0 and report["checks"]["oracle_mismatch"] == 0
           and result["failed"] > 0, "blended_job: guarded rows count as failed")
    for w in spec["workloads"]:
        name = w["name"]
        report, result = run(name)
        check_metrics(result, spec["end_to_end"], name)
        expect(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
               f"{name}: correct, no failed document")
        again, _ = run(name)
        expect(again["output_digest"] == report["output_digest"],
               f"{name}: same seed, same output_digest")
    _, result = run(spec["workloads"][0]["name"], trace=1)
    check_metrics(result, spec["per_layer"], "traced")
    return 0


if __name__ == "__main__":
    sys.exit(main())
