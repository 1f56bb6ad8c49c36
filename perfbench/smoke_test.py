#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny size, untraced
and traced. Asserts that the checks pass and that every metric named in
BENCHMARK.json (and each workload's own metrics) is printed with its unit.

Usage, from the root of a checkout:  python3 perfbench/smoke_test.py
"""
import glob
import json
import os
import subprocess
import sys

OWN = {
    "point-search": ["point_p50_ms", "point_p99_ms", "point_samples", "batch_qps", "batch_samples"],
    "bulk-knn": ["selfjoin_vps", "bucket_join_qps", "bucket_join_p50_ms", "selfjoin_samples", "join_samples"],
    "store-churn": ["upsert_docs_per_s", "wave_p50_s", "wave_samples", "serve_p50_ms",
                    "serve_p95_ms", "serve_samples", "ann_serve_p50_ms", "bm25_serve_p50_ms"],
}
OWN_LAYERS = {
    "point-search": ["ann.forest.fit_s", "ann.forest.compact_s", "ann.forest.route_us",
                     "ann.forest.search_us", "ann.forest.search_batch_s"],
    "bulk-knn": ["ann.forest.fit_s", "ann.forest.compact_s", "ann.forest.assign_leaves_s",
                 "ann.forest.self_join_s", "ann.forest.bucket_join_s"],
    "store-churn": ["ann.dforest.fit_s", "ann.dforest.serve_s", "streaming.wave_s", "bm25.serve_s"],
}


def run(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def printed(lines, kind):
    out = {}
    for line in lines:
        parts = line.split()
        if parts and parts[0] == kind:
            assert len(parts) == 4, f"{kind} line without a unit: {line!r}"
            float(parts[2])
            out[parts[1]] = parts[3]
    return out


def main():
    bench = json.load(open("BENCHMARK.json"))
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in (x["name"] for x in bench["workloads"]):
        for trace, gated in ((0, e2e), (1, per_layer)):
            lines, res = run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] is True and res["failed"] == 0, f"{w} trace={trace}: {res}"
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == gated, f"{w} trace={trace}: metrics {got} != {gated}"
            metrics, layers = printed(lines, "metric"), printed(lines, "layer")
            want = list(e2e) + OWN[w] + ["failed_frac"]
            missing = [m for m in want if m not in metrics]
            assert not missing, f"{w}: metrics not printed: {missing}"
            if trace:
                missing = [m for m in list(per_layer) + OWN_LAYERS[w] if m not in layers]
                assert not missing, f"{w}: layers not printed: {missing}"
                assert any(l.startswith("phase ") for l in lines), f"{w}: no phase lines"
                assert any(l.startswith("tracing_overhead ") for l in lines), f"{w}: no overhead"
            assert any(l.startswith("host ") for l in lines), f"{w}: no host line"
            print(f"ok {w} trace={trace}: {len(metrics)} metrics, {len(layers)} layers")
    assert glob.glob(os.path.join(".bench_build", "perfbench", "traces", "*.jsonl")), "no span files"
    print("smoke test passed")


if __name__ == "__main__":
    main()
