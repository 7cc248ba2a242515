#!/usr/bin/env python3
"""Summarize a bench artifact (bench_out_c{cpus}.json): top queries by
seconds with jobs/gc_ms, and (optionally) a diff against a second artifact,
which also lists every query whose job count differs between the two. Two
artifacts of different widths (`cpus`) are not comparable: the report then
prints both widths and exits 2. Usage:
  tools/bench_report.py bench_out_c4.json [old_bench_out_c4.json] [-n 40]
"""
import json, sys

def load(p):
    with open(p) as f:
        return json.loads(f.read().strip())

def main():
    argv = sys.argv[1:]
    n = 40
    if '-n' in argv:
        i = argv.index('-n')
        n = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    args = argv
    cur = load(args[0])
    old = load(args[1]) if len(args) > 1 else None
    if old and cur.get('cpus') != old.get('cpus'):
        print(f"width mismatch: {args[0]} has cpus={cur.get('cpus')}, "
              f"{args[1]} has cpus={old.get('cpus')}", file=sys.stderr)
        sys.exit(2)
    qs, js, gs = cur['queries'], cur.get('jobs', {}), cur.get('gc_ms', {})
    print(f"total={cur['value']}s cpus={cur.get('cpus')} n={len(qs)} passes={cur.get('n_passes')} "
          f"err={cur.get('n_err')} local_dir={cur.get('local_dir')}")
    rows = sorted(qs.items(), key=lambda x: -abs(x[1]))[:n]
    if old:
        oq, oj = old['queries'], old.get('jobs', {})
        print(f"old total={old['value']}s")
        print(f"{'query':34s} {'sec':>8s} {'old':>8s} {'ratio':>6s} {'jobs':>5s} {'oldj':>5s} {'gc_ms':>6s}")
        for k, v in rows:
            ov = oq.get(k, float('nan'))
            r = v / ov if ov and ov == ov else float('nan')
            print(f"{k:34s} {v:8.2f} {ov:8.2f} {r:6.2f} {js.get(k,0):5d} {oj.get(k,-1):5d} {gs.get(k,0):6d}")
        # biggest regressions by ratio among >1s queries
        regs = [(k, v, oq.get(k)) for k, v in qs.items()
                if k in oq and oq[k] > 0 and v > 1 and v / oq[k] > 1.3]
        if regs:
            print("\nregressions (>1s and >1.3x):")
            for k, v, ov in sorted(regs, key=lambda x: -(x[1] / x[2])):
                print(f"  {k:32s} {ov:.2f} -> {v:.2f}  jobs {oj.get(k,-1)}->{js.get(k,0)}")
        # the job census: every query whose job count moved, whatever its time
        jdiff = sorted(k for k in set(js) | set(oj) if js.get(k, -1) != oj.get(k, -1))
        print(f"\njob count differs on {len(jdiff)} of {len(set(js) | set(oj))} queries"
              + (":" if jdiff else ""))
        for k in jdiff:
            print(f"  {k:32s} jobs {oj.get(k, -1)} -> {js.get(k, -1)}")
    else:
        print(f"{'query':34s} {'sec':>8s} {'jobs':>5s} {'gc_ms':>6s}")
        for k, v in rows:
            print(f"{k:34s} {v:8.2f} {js.get(k,0):5d} {gs.get(k,0):6d}")
        tot = sum(v for v in qs.values() if v > 0)
        top = sum(v for _, v in rows if v > 0)
        if tot > 0:
            print(f"\ntop-{n} share: {top:.1f}s of {tot:.1f}s = {100*top/tot:.0f}%")
        else:
            # an all-error/all-zero artifact is exactly when the report
            # gets pulled up — print raw sums instead of dividing by zero
            print(f"\ntop-{n} share: {top:.1f}s of {tot:.1f}s (no positive times)")

main()
