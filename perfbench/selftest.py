"""Self-test of the benchmark at tiny sizes (a few minutes in all).

    python3 perfbench/selftest.py

For every workload: a clean run must be correct and emit every end-to-end
metric of BENCHMARK.json with its unit; a traced run over a deliberately
corrupted output (one gold row or shard document dropped before checking)
must emit every per-layer metric with its unit and count the corruption in
``failed``. Finally the runner, copied without the package next to it, must
exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402

# workload -> --size: activities per pass, events per CDC file, docs per batch
TINY = {"medallion_batch": 2000, "cdc_stream": 2, "doc_query": 20}
SECONDS = 3


def bench_run(workload: str, *flags: str) -> tuple[int, list[str]]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", str(SECONDS), "--size", str(TINY[workload]), *flags,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.splitlines()


def expect_metrics(result: dict, want: dict[str, str], label: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    missing = sorted(set(want) - set(got))
    wrong = sorted(k for k in want if k in got and got[k] != want[k])
    assert not missing, f"{label}: metrics not emitted: {missing}"
    assert not wrong, f"{label}: wrong units: {wrong}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    listed = [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END_UNITS, "BENCHMARK.json end_to_end drifted from run.py"
    assert layer == {k: u for k, (u, _) in run.layer_metric_spec().items()}, (
        "BENCHMARK.json per_layer drifted from run.py"
    )
    assert sorted(listed) == sorted(TINY), "BENCHMARK.json workloads drifted from the self-test"

    for workload in listed:
        rc, out = bench_run(workload, "--trace", "0")
        assert rc == 0, f"{workload}: clean run exited {rc}"
        res = json.loads(out[-1])
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{workload}: {res}"
        expect_metrics(res, e2e, f"{workload} --trace 0")

        rc, out = bench_run(workload, "--trace", "1", "--corrupt")
        assert rc == 0, f"{workload}: corrupted run exited {rc}"
        res = json.loads(out[-1])
        assert not res["correct"] and res["failed"] >= 1, f"{workload}: corruption not counted: {res}"
        expect_metrics(res, layer, f"{workload} --trace 1")
        print(f"ok {workload}")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", listed[0], "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass  # a benchmark run's work dir is still there
    assert p.returncode != 0 and not p.stdout.strip(), "runner without the package must fail"
    print("ok bare directory")
    return 0


if __name__ == "__main__":
    sys.exit(main())
