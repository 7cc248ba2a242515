#!/usr/bin/env python3
"""Self-test of the benchmark, on the small sf0.001 base tables.

    python3 perfbench/selftest.py

It runs run.py's command in this process, with every workload pointed at
the sf0.001 tables and `--seconds 0`, so that each run measures only the
minimum of two warm passes. For every workload it makes two runs:
  * a traced run, which must pass the oracle check and print every
    per-layer metric of BENCHMARK.json with its unit;
  * an untraced run with one wrong row planted in the first query's
    oracle result, which must print every end-to-end metric with its unit,
    report that execution as failed (error_rate > 0) and exit non-zero.
Exits 0 when all checks hold.
"""
import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import run as bench  # noqa: E402

SF = "sf0.001"


def invoke(workload, trace, plant=None):
    """Runs the benchmark's command; returns (exit code, summary, stdout)."""
    real_oracles = bench.oracle_frames

    def planted_oracles(*a):
        out = real_oracles(*a)
        exp = out[plant]
        out[plant] = exp.iloc[list(range(len(exp))) + [0]]
        return out

    bench.oracle_frames = planted_oracles if plant else real_oracles
    sys.argv = ["run.py", "--workload", workload, "--seed", "7", "--seconds", "0",
                "--trace", str(trace)]
    stdout = io.StringIO()
    try:
        with contextlib.redirect_stdout(stdout):
            bench.main()
        code = 0
    except SystemExit as ex:
        code = ex.code
    finally:
        bench.oracle_frames = real_oracles
    lines = stdout.getvalue().strip().splitlines()
    try:
        return code, json.loads(lines[-1]), stdout.getvalue()
    except (IndexError, json.JSONDecodeError):
        return code, None, stdout.getvalue()


def expect_metrics(summary, specs, label, problems):
    got = summary["metrics"]
    for spec in specs:
        m = got.get(spec["name"])
        if m is None:
            problems.append(f"{label}: metric {spec['name']} missing")
        elif m["unit"] != spec["unit"] or not isinstance(m["value"], (int, float)):
            problems.append(f"{label}: metric {spec['name']} is {m}, want unit {spec['unit']}")
    extra = set(got) - {s["name"] for s in specs}
    if extra:
        problems.append(f"{label}: unexpected metrics {sorted(extra)}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if sorted(names) != sorted(bench.WORKLOADS):
        sys.exit(f"BENCHMARK.json workloads {names} differ from run.py's {sorted(bench.WORKLOADS)}")
    problems = []
    for w in names:
        bench.WORKLOADS[w]["sf"] = SF
        code, summary, out = invoke(w, 1)
        label = f"{w} traced"
        if summary is None or code != 0 or not summary["correct"]:
            problems.append(f"{label}: exit {code}, summary {summary}\n{out[-2000:]}")
        else:
            expect_metrics(summary, spec["per_layer"], label, problems)

        planted = bench.WORKLOADS[w]["queries"][0]
        code, summary, out = invoke(w, 0, plant=planted)
        label = f"{w} planted wrong row in {planted}"
        if summary is None:
            problems.append(f"{label}: no summary (exit {code})\n{out[-2000:]}")
            continue
        expect_metrics(summary, spec["end_to_end"], label, problems)
        if code == 0 or summary["correct"] or summary["failed"] < 1:
            problems.append(f"{label}: not caught (exit {code}, {summary})")
        elif f"FAILED {planted}:" not in out:
            problems.append(f"{label}: failure not attributed to {planted}")
        print(f"{w}: traced run ok; planted row caught, error_rate "
              f"{summary['failed']}/{summary['attempted']}")
    for p in problems:
        print("PROBLEM", p)
    print("selftest", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
