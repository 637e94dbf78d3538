"""Smoke self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout. Runs every workload at minimum size,
untraced and traced, and fails unless each run exits 0, reports
``correct``, and prints exactly the metrics ``BENCHMARK.json`` names
with their units. The traced run must leave a span file whose spans all
carry the run id and a valid parent. Prints the tracing overhead
(traced minus untraced) per end-to-end metric. The traced ``query_mix``
run must also have measured the corpus feed (streaming and io.versioned
layers), and ``corpus_admission``, which ``run.py`` accepts but
``BENCHMARK.json`` does not list, gets the same checks. Finally checks
that the benchmark refuses to run, with no result line, in a directory
that holds only ``BENCHMARK.json`` and this directory. Takes about six
minutes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(cwd: str, workload: str, trace: int, smoke: bool = True):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace)] + (["--smoke"] if smoke else [])
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc.stderr


def _expect(result: dict, spec: list[dict], label: str) -> None:
    metrics = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        raise SystemExit(f"{label}: metrics/units differ from BENCHMARK.json: "
                         f"missing={sorted(want.keys() - got.keys())} "
                         f"extra={sorted(got.keys() - want.keys())} "
                         f"units={[k for k in want.keys() & got.keys() if want[k] != got[k]]}")
    for k, v in metrics.items():
        if not isinstance(v["value"], (int, float)):
            raise SystemExit(f"{label}: {k} is not a number: {v['value']!r}")


def _check_spans(checkout: str, before: set[str], label: str) -> None:
    new = set(glob.glob(os.path.join(checkout, ".perfbench", "traces", "*.jsonl"))) - before
    if len(new) != 1:
        raise SystemExit(f"{label}: expected one new span file, found {sorted(new)}")
    with open(new.pop()) as f:
        spans = [json.loads(line) for line in f]
    ids = {s["id"] for s in spans}
    runs = {s["run"] for s in spans}
    if not spans or len(runs) != 1:
        raise SystemExit(f"{label}: span file has no spans or mixed run ids {runs}")
    orphans = [s for s in spans if s["parent"] is not None and s["parent"] not in ids]
    if orphans:
        raise SystemExit(f"{label}: spans with an unknown parent: {orphans[:3]}")


def main() -> int:
    checkout = os.getcwd()
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in [w["name"] for w in bench["workloads"]] + ["corpus_admission"]:
        untraced = None
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            label = f"{w} trace={trace}"
            before = set(glob.glob(os.path.join(checkout, ".perfbench", "traces", "*.jsonl")))
            code, result, err = _run(checkout, w, trace)
            if code != 0 or result is None or not result["correct"]:
                sys.stderr.write(err[-4000:])
                raise SystemExit(f"{label}: exit {code}, result {result}")
            _expect(result, spec, label)
            if trace:
                _check_spans(checkout, before, label)
                if w in ("query_mix", "corpus_admission"):
                    for k in ("streaming.trigger_s", "io.versioned.commits",
                              "spark.jobs_per_batch", "ops.admit_ratio"):
                        if not result["metrics"][k]["value"] > 0:
                            raise SystemExit(f"{label}: corpus feed not measured ({k})")
                for m in bench["end_to_end"]:
                    k = m["name"]
                    over = result["metrics"][f"traced.{k}"]["value"] - untraced[k]["value"]
                    print(f"{w}: tracing overhead on {k}: {over:+.4f} {m['unit']}")
            else:
                untraced = result["metrics"]
            print(f"{label}: ok ({result['attempted']} operations)")

    os.makedirs(os.path.join(checkout, ".perfbench"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(checkout, ".perfbench"))
    try:
        shutil.copy(os.path.join(checkout, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, result, _ = _run(bare, bench["workloads"][0]["name"], 0)
        if code == 0 or result is not None:
            raise SystemExit(f"bare directory: exit {code}, result {result}")
        print(f"bare directory: refused with exit {code}")
    finally:
        shutil.rmtree(bare)
    return 0


if __name__ == "__main__":
    sys.exit(main())
