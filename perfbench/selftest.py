"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` names exactly the metrics and workloads the code
   reports.
2. Outside a checkout (only ``BENCHMARK.json`` and ``perfbench/``) the run
   exits non-zero and prints no result.
3. Each workload run with ``--corrupt`` (one output damaged per pass)
   reports ``failed > 0``, ``correct: false`` and exits non-zero, so a
   wrong output raises ``error_rate``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def expect(ok: bool, what) -> None:
    if not ok:
        raise SystemExit(f"FAIL {what}")


def check_spec() -> None:
    import run
    import tracing
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expect([w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS), spec["workloads"])
    expect([m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END), spec["end_to_end"])
    got = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    expect(got == tracing.PER_LAYER, set(got.items()) ^ set(tracing.PER_LAYER.items()))
    print("ok   BENCHMARK.json matches the code")


def check_bare_directory() -> None:
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "out")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("out", "__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "corpus_ops", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    expect(p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout))
    print(f"ok   bare directory: exit {p.returncode}, no result")


def check_corrupted(workload: str) -> None:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0", "--corrupt"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    result = json.loads(p.stdout.strip().splitlines()[-1])
    expect(p.returncode != 0 and result["failed"] > 0 and not result["correct"], (p.returncode, result))
    print(f"ok   {workload} --corrupt: exit {p.returncode}, failed {result['failed']}/{result['attempted']}")


if __name__ == "__main__":
    check_spec()
    check_bare_directory()
    for name in ("migrate_cdc", "corpus_ops"):
        check_corrupted(name)
