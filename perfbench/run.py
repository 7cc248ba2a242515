#!/usr/bin/env python3
"""Benchmark for graft: seeded full-output workloads, checked by DuckDB.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program's classes and the harness (perfbench/harness) from
source with the Scala compiler that ships in Spark's jars, thins the base
tables in perfbench/data by the seed, runs the workload's queries in one
closed-loop client (perfbench/harness/Harness.scala), replays every
query's oracle SQL in DuckDB on the same inputs and compares the outputs.

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones. Exits non-zero if any output differs
from its oracle. Every run writes its own artifact under
perfbench/.work/runs/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import inputs  # noqa: E402
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")

# Each workload: base data, query list, and an optional fixed-size
# document sample (see inputs.py). README.md says why each was chosen.
WORKLOADS = {
    "graph": {
        "sf": "sf0.001",
        "queries": ["q_graph_wcc"]},
    "docs_relational": {
        "sf": "sf0.01", "doc_sample": 12,
        "queries": ["q_dedup_simhash", "q_text_winnow", "q_text_fingerprint",
                    "q01_agg", "q06_filter_sum"]},
}
# JVM launches per run. Each sets up and makes one cold pass; the last
# one goes on with the warm passes. setup_s and cold_pass_s are the
# medians over the launches: how much code the JIT compiles during a cold
# pass, and so its wall time, differs from one JVM to the next.
LAUNCHES = 2
# Seconds the run's JVM launches may take together, so that a run, oracle
# check included, ends within 180 s.
LAUNCH_BUDGET_S = 150

# error_rate is printed and stored in the artifact but is not a metric of
# the final JSON line: it is 0 on a correct program, and `failed` /
# `attempted` carry it exactly.
END_TO_END = {"pass_s": "s", "cold_pass_s": "s", "setup_s": "s", "heap_peak_mb": "MB"}
MODULES = ["graph", "dedup", "text", "functions", "pipeline", "operators", "sim",
           "multimodal", "queries", "other", "output"]
PER_LAYER = dict(
    [("queries.build_s", "s"), ("queries.output_s", "s"),
     ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.in_jobs_s", "s"), ("spark.outside_jobs_s", "s"),
     ("catalyst.executions", "count"), ("catalyst.analysis_ms", "ms"),
     ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
     ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
     ("spark.task_overhead_s", "s"), ("spark.core_util", "ratio"),
     ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
     ("spark.spill_disk_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"),
     ("checkpoint.live_rdds", "count"), ("jvm.gc_s", "s"), ("jvm.jit_ms", "ms"),
     ("trace.overhead_s", "s")]
    + [(f"module.{m}.{k}", u) for m in MODULES for k, u in (("jobs", "count"), ("in_jobs_s", "s"))])

# Options the JVM needs when a SparkSession is built outside spark-submit
# on JDK 17 (the same list build.sbt passes).
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha256_files(paths, base=ROOT, extra=""):
    """Digest of the files' names, relative to `base`, and contents."""
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, base).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def spark_jars():
    """The Spark jars the program builds against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars. They include scala-compiler."""
    jars, m = None, None
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        jars = m.group(1)
    elif os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark jars with a Scala compiler (looked in {jars})")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def clean_env(scratch):
    """The parent environment minus every knob that could steer the run."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS",
                         "JDK_JAVA_OPTIONS", "SPARK_CONF_DIR")}
    env["SPARK_GRAFT_LOCAL_DIR"] = scratch
    return env


# Builds kept side by side, so that runs of two commits that share a build
# directory can alternate without rebuilding.
KEEP_BUILDS = 2


def build(env):
    """Compiles src/main/scala and the harness into a directory keyed by
    the sources' digest; a later run with the same sources reuses it.
    The build directory is $CARGO_TARGET_DIR, else perfbench/.work/build."""
    main_srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench_srcs = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not main_srcs:
        raise BenchError(f"no program sources under {ROOT}/src/main/scala")
    jars = spark_jars()
    digest = sha256_files(main_srcs + bench_srcs, extra=" ".join(sorted(os.listdir(jars))))
    build_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or os.path.join(WORK, "build"))
    out = os.path.join(build_root, f"classes-{digest[:16]}")
    if os.path.exists(os.path.join(out, "ok")):
        os.utime(out)  # most recently used, so pruning keeps it
        return out, digest
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    for part, srcs, cp in (("main", main_srcs, f"{jars}/*"),
                           ("bench", bench_srcs, f"{tmp}/main:{jars}/*")):
        os.makedirs(f"{tmp}/{part}")
        cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-nowarn", "-d", f"{tmp}/{part}", "-classpath", cp] + srcs
        r = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BenchError(f"compiling {part} failed:\n{(r.stdout + r.stderr)[-4000:]}")
    open(os.path.join(tmp, "ok"), "w").close()
    os.rename(tmp, out)
    builds = sorted((d for d in glob.glob(os.path.join(build_root, "classes-*")) if "." not in os.path.basename(d)),
                    key=os.path.getmtime, reverse=True)
    for old in builds[KEEP_BUILDS:]:
        shutil.rmtree(old, ignore_errors=True)
    log(f"built classes in {time.time() - t0:.1f} s")
    return out, digest


def heap_gb():
    """MemTotal/2, clamped to 2..8 GiB: the heap the repo's tests use."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def cpu_seconds():
    """Seconds the host's CPUs spent busy and stolen since boot, from
    /proc/stat: (user+nice+system+irq+softirq, steal). Steal is time a
    virtual CPU was ready to run and the hypervisor ran something else;
    a run that meets much of it was slowed by the host, not the program."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError, IndexError):
        return float("nan"), float("nan")
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz


def launch(classes, env, run_dir, name, args, timeout):
    result = os.path.join(run_dir, f"{name}.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = f"{classes}/bench:{classes}/main:{spark_jars()}/*"
    # MaxHeapFreeRatio=100: the System.gc() between queries would otherwise
    # shrink the heap to a few times the live data, and every query would
    # start by growing it back, in a different number of young collections
    # from run to run.
    cmd = ([java_bin(), f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=1g",
            "-XX:MaxHeapFreeRatio=100", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse"] + ADD_OPENS
           + ["-cp", cp, "graftbench.Harness", "--result", result,
              "--launch-epoch-us", str(time.time_ns() // 1000)] + args)
    log_path = os.path.join(run_dir, f"{name}.log")
    busy0, steal0 = cpu_seconds()
    with open(log_path, "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{name} exceeded {timeout:.0f} s")
    if r.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{name} exited {r.returncode}:\n{tail}")
    busy1, steal1 = cpu_seconds()
    with open(result) as f:
        out = json.load(f)
    out["host_busy_s"], out["host_steal_s"] = busy1 - busy0, steal1 - steal0
    return out


def parquet_glob(path):
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def oracle_frames(in_dir, oracle_sql, cache_dir):
    """Runs each oracle in DuckDB over the seeded inputs. Results are
    cached per (content of the inputs, oracle text)."""
    import duckdb
    import pandas as pd
    os.makedirs(cache_dir, exist_ok=True)
    base_key = sha256_files(sorted(glob.glob(os.path.join(in_dir, "*.parquet"))), base=in_dir)
    con = None
    out = {}
    for name, sql in oracle_sql.items():
        key = hashlib.sha256((base_key + "\0" + sql).encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            out[name] = pd.read_pickle(path)
            continue
        if con is None:
            con = duckdb.connect()
            con.execute(f"SET temp_directory='{cache_dir}/duckdb_tmp'")
            for t in inputs.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{parquet_glob(os.path.join(in_dir, t + '.parquet'))}')")
        try:
            df = con.execute(sql).fetchdf()
        except Exception as ex:  # an oracle that cannot run is a failed check
            out[name] = ex
            continue
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        out[name] = df
    if con is not None:
        con.close()
    return out


def compare(expected, got_dir):
    """tools/check.py's semantics: sort columns by name, sort rows, compare
    values. Returns None when equal, else a one-line reason."""
    import duckdb
    if isinstance(expected, Exception):
        return f"oracle error: {expected}"
    files = sorted(glob.glob(os.path.join(got_dir, "*.parquet")))
    if not files:
        return "no output"
    con = duckdb.connect()
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    con.close()
    exp = expected[sorted(expected.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"schema: oracle {list(exp.columns)} vs output {list(got.columns)}"
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    if len(exp) != len(got):
        return f"rows: oracle {len(exp)} vs output {len(got)}"
    try:
        if exp.equals(got):
            return None
        bad = ((exp != got) & ~(exp.isna() & got.isna())).any(axis=1)
        return f"values: {int(bad.sum())}/{len(exp)} rows differ"
    except Exception as ex:
        return f"compare error: {ex}"


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run(args):
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    base = os.path.join(DATA, wl["sf"])
    if not os.path.isdir(base):
        raise BenchError(f"no base data at {base}")
    started = time.time()
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(started))
    run_dir = os.path.join(WORK, "runs",
                           f"{args.workload}_seed{args.seed}_trace{args.trace}_{stamp}_{os.getpid()}")
    os.makedirs(run_dir)
    scratch = os.path.join(run_dir, "scratch")
    env = clean_env(scratch)
    classes, digest = build(env)

    in_dir = os.path.join(run_dir, "inputs")
    inputs.write_inputs(base, in_dir, args.seed, wl.get("doc_sample"))
    check_dirs = [os.path.join(run_dir, f"check{i}") for i in range(LAUNCHES)]
    try:
        launches = []
        deadline = time.time() + LAUNCH_BUDGET_S
        for i, check in enumerate(check_dirs):
            warm = int(i == LAUNCHES - 1)
            launches.append(launch(
                classes, env, run_dir, f"launch{i}",
                ["--inputs", in_dir, "--queries", ",".join(wl["queries"]),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--warm", str(warm), "--check-out", check],
                timeout=max(1.0, deadline - time.time())))
        main = launches[-1]
        oracles = oracle_frames(in_dir, main["oracle_sql"], os.path.join(WORK, "oracle_cache"))
        mismatches, mismatched = {}, 0
        for lc, check in zip(launches, check_dirs):
            for q in lc["cold_pass"]["queries"]:
                if "error" in q:
                    continue
                if q["name"] not in oracles:
                    why = "no oracle SQL"
                else:
                    why = compare(oracles[q["name"]], os.path.join(check, q["name"]))
                if why:
                    mismatches.setdefault(q["name"], why)
                    mismatched += 1
    finally:
        for d in [in_dir, scratch, os.path.join(run_dir, "tmp")] + check_dirs:
            shutil.rmtree(d, ignore_errors=True)

    executions = [q for p in [lc["cold_pass"] for lc in launches] + main["warm_passes"]
                  for q in p["queries"]]
    threw = {q["name"]: q["error"] for q in executions if "error" in q}
    attempted = len(executions)
    failed = sum(1 for q in executions if "error" in q) + mismatched

    timed = [p for p in main["warm_passes"] if not p["warmup"]]
    untraced = [p["wall_s"] for p in timed if "trace" not in p]
    traced = [p for p in timed if "trace" in p]
    e2e = {
        "pass_s": median(untraced),
        "cold_pass_s": median([lc["cold_pass_s"] for lc in launches]),
        "setup_s": median([lc["setup_s"] for lc in launches]),
        "heap_peak_mb": main["heap_peak_mb"],
    }
    error_rate = failed / attempted
    layer = {}
    if traced:
        for k in PER_LAYER:
            vals = [p["trace"][k] for p in traced if k in p["trace"]]
            if vals:
                layer[k] = median(vals)
        layer["jvm.jit_ms"] = median([lc["jit_ms_setup_cold"] for lc in launches])
        layer["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - e2e["pass_s"]

    chosen, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    metrics = {k: {"value": chosen[k], "unit": units[k]} for k in units if k in chosen}
    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "base": os.path.relpath(base, ROOT),
        "queries": wl["queries"], "source_digest": digest, "commit": commit_id(),
        "cpus": main["cpus"], "heap_max_mb": main["heap_max_mb"],
        "local_scratch": main["local_scratch"],
        "cold_pass_s": [lc["cold_pass_s"] for lc in launches],
        "host_steal_s": sum(lc["host_steal_s"] for lc in launches),
        "host_busy_s": sum(lc["host_busy_s"] for lc in launches),
        "setup_s": [lc["setup_s"] for lc in launches],
        "warm_passes": len(main["warm_passes"]), "untraced_pass_s": untraced,
        "traced_pass_s": [p["wall_s"] for p in traced],
        "end_to_end": e2e, "error_rate": error_rate, "per_layer": layer, "threw": threw, "mismatches": mismatches,
        "launches": launches, "run_wall_s": time.time() - started,
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for k, m in metrics.items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} error_rate = {error_rate:.6g} ratio ({failed} of {attempted} "
          "query executions threw or differ from the oracle)")
    for name, why in sorted({**threw, **mismatches}.items()):
        print(f"{args.workload} FAILED {name}: {why}")
    print(f"{args.workload} seed={args.seed} cpus={main['cpus']} "
          f"steal={artifact['host_steal_s']:.1f}s/busy={artifact['host_busy_s']:.1f}s "
          f"heap={main['heap_max_mb']:.0f}MB scratch={main['local_scratch']} "
          f"commit={artifact['commit']} artifact={os.path.relpath(run_dir, ROOT)}")
    summary = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": metrics}
    return summary


def commit_id():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        summary = run(args)
    except BenchError as ex:
        log(f"error: {ex}")
        sys.exit(2)
    print(json.dumps(summary))
    sys.exit(0 if summary["correct"] else 1)


if __name__ == "__main__":
    main()
