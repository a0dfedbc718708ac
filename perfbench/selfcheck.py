"""Self-check of the benchmark at a small scale (sf0.001, x2 corpus).

Runs all three workloads -- the two in BENCHMARK.json and the optional
``curation_x16`` -- untraced and traced, and asserts that

* each run exits 0 and its last line has exactly the contract's keys;
* the result line carries every metric BENCHMARK.json names for that
  mode (end-to-end untraced, per-layer traced), each with its unit;
* the detail line carries every end-to-end metric of the workload, and a
  traced run reports every per-layer metric for every op plus the
  tracer's own overhead;
* no op failed or produced a wrong output (``failed_frac`` is 0).

    python3 perfbench/selfcheck.py        # about six minutes on 4 cores
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_queries", "index_lifecycle", "curation_x16")
DETAIL_E2E = {
    "etl_queries": ("latency_p50_s", "latency_tail_s", "failed_frac", "peak_rss_mb",
                    "trigger_p50_s"),
    "index_lifecycle": ("latency_p50_s", "latency_tail_s", "failed_frac", "peak_rss_mb",
                        "serve_p50_s", "update_p50_s", "compact_s",
                        "index_bytes_per_doc_byte"),
    "curation_x16": ("latency_p50_s", "latency_tail_s", "failed_frac", "peak_rss_mb",
                     "docs_per_s"),
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "small"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    assert out.returncode == 0, f"{workload} trace={trace}: exit {out.returncode}"
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(metrics: dict, expected: list[dict], where: str) -> None:
    assert set(metrics) == {m["name"] for m in expected}, f"{where}: metric names differ"
    for m in expected:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], f"{where}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{where}: {m['name']} not a number"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    layer_names = {m["name"] for m in spec["per_layer"]}
    for workload in WORKLOADS:
        for trace in (0, 1):
            where = f"{workload} trace={trace}"
            detail, result = run(workload, trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
            assert result["correct"] and result["failed"] == 0, f"{where}: {detail['errors']}"
            assert result["attempted"] >= 1, where
            check_metrics(result["metrics"], spec["per_layer" if trace else "end_to_end"], where)
            e2e = detail["end_to_end"]
            for name in DETAIL_E2E[workload]:
                assert name in e2e and e2e[name]["unit"], f"{where}: {name} missing"
            assert e2e["failed_frac"]["value"] == 0, where
            if trace:
                for op in detail["ops"]:
                    missing = {n for n in layer_names if not n.startswith("session.")} - set(op)
                    assert not missing, f"{where}: {op['op']} lacks {sorted(missing)}"
                assert detail["tracer_overhead_s"] >= 0, where
            print(f"ok {where}: {result['attempted']} ops", flush=True)
    print("selfcheck ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
