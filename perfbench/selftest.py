#!/usr/bin/env python3
"""The benchmark's own test: runs every workload at its tiny size, untraced
and traced, and checks the result line against BENCHMARK.json; checks that
the launcher refuses a traced result that lacks one of its layers' metrics.

Usage: python3 perfbench/selftest.py   (about three minutes on 4 cores)
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def check(workload, trace, spec):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        return [f"exit {r.returncode}: {r.stderr[-1500:]}"]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    errs = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errs.append(f"keys {sorted(res)}")
    if res.get("correct") is not True:
        errs.append("correct is not true")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        errs.append(f"attempted {res.get('attempted')}")
    if res.get("failed") != 0:
        errs.append(f"failed {res.get('failed')}")
    got = res.get("metrics", {})
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    if set(got) != set(want):
        errs.append(f"metric names differ: missing {set(want) - set(got)}, extra {set(got) - set(want)}")
    for name, m in got.items():
        if not isinstance(m.get("value"), (int, float)) or m.get("unit") != want.get(name):
            errs.append(f"{name}: {m}")
        elif not trace and m["value"] <= 0:
            errs.append(f"{name} reads {m['value']}, an end-to-end metric must not be 0")
    return errs


def check_shape(spec):
    """shape() must refuse a traced result that lacks a metric of one of the
    workload's layers, and zero-fill only the layers it does not run."""
    sys.path.insert(0, str(ROOT / "perfbench"))
    sys.dont_write_bytecode = True
    import run
    errs = []
    for w, prefixes in run.LAYERS.items():
        own = [m for m in spec["per_layer"] if m["name"].startswith(prefixes)]
        if not own:
            errs.append(f"{w}: no BENCHMARK.json per-layer metric matches its layers")
            continue
        full = {m["name"]: {"value": 1.0, "unit": m["unit"]} for m in own}
        res = {"correct": True, "attempted": 1, "failed": 0, "metrics": full}
        shaped = run.shape(w, res, True, spec)["metrics"]
        if any(shaped[m["name"]]["value"] != 0.0 for m in spec["per_layer"] if m["name"] not in full):
            errs.append(f"{w}: a layer it does not run was not zero-filled")
        for m in own:
            res["metrics"] = {k: v for k, v in full.items() if k != m["name"]}
            try:
                run.shape(w, res, True, spec)
                errs.append(f"{w}: missing {m['name']} was not refused")
            except SystemExit:
                pass
    return errs


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errs = check_shape(spec)
    print(f"{'FAIL' if errs else 'ok  '} shape refuses missing layer metrics" + "".join(f"\n  {e}" for e in errs))
    bad = bool(errs)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            errs = check(w, trace, spec)
            print(f"{'FAIL' if errs else 'ok  '} {w} trace={trace}" + "".join(f"\n  {e}" for e in errs))
            bad += bool(errs)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
