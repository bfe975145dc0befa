"""Steadiness tooling: run N seeds per workload, summarise each metric's
spread against its bound, and compare two sets of runs.

    python3 ingestbench/steady.py run --out A.json [--workloads a,b] [--seeds 1-10] [--trace 0]
    python3 ingestbench/steady.py show A.json
    python3 ingestbench/steady.py compare A.json B.json

``run`` executes ``ingestbench/run.py`` once per (workload, seed), one
process at a time, and stores every result line together with the
run's recorded environment. ``show`` prints, per workload and metric,
the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread (Q3 - Q1) / median next to the metric's bound, and fails when a
run was not correct or a spread is above a third of its bound. ``compare``
refuses two sets whose recorded environments differ; otherwise it
prints how far the second set's median moved in the metric's worse
direction, as a share of the first set's median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: environment fields that must agree before two sets are compared
ENV_KEYS = ("nproc", "driver_memory", "python", "java", "pyspark", "spark_conf")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_set(workloads: list[str], seeds: list[int], trace: int, seconds: int) -> dict:
    results = []
    for wl in workloads:
        for seed in seeds:
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            res = json.loads(line) if p.returncode == 0 and line.startswith("{") else None
            rec_path = os.path.join(
                ROOT, ".bench_work", "runs", f"{wl}-seed{seed}-trace{trace}.json"
            )
            env = {}
            if res is not None and os.path.exists(rec_path):
                with open(rec_path) as f:
                    env = json.load(f)["env"]
            results.append({"workload": wl, "seed": seed, "rc": p.returncode,
                            "result": res, "env": env})
            status = "ok" if res and res["correct"] else "FAILED"
            print(f"{wl} seed {seed}: {status}", file=sys.stderr, flush=True)
    return {"trace": trace, "seconds": seconds, "runs": results}


def summarise(data: dict) -> dict:
    """{workload: {metric: {median, q1, q3, spread, n}}}"""
    out: dict = {}
    for r in data["runs"]:
        if not r["result"]:
            continue
        for name, m in r["result"]["metrics"].items():
            out.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    summary: dict = {}
    for wl, metrics in out.items():
        for name, vals in metrics.items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            summary.setdefault(wl, {})[name] = {
                "median": med, "q1": q1, "q3": q3, "n": len(vals),
                "spread": (q3 - q1) / med if med else float("inf"),
            }
    return summary


def show(data: dict) -> bool:
    bounds = {m["name"]: m for m in _bench()["end_to_end"]}
    ok = True
    bad_runs = [r for r in data["runs"] if not (r["result"] and r["result"]["correct"])]
    for r in bad_runs:
        print(f"!! {r['workload']} seed {r['seed']}: rc={r['rc']} result={r['result'] and r['result']['failed']}")
        ok = False
    for wl, metrics in summarise(data).items():
        print(f"== {wl}")
        for name, s in metrics.items():
            b = bounds.get(name, {}).get("bound")
            flag = ""
            if b is not None:
                steady = s["spread"] <= b / 3
                flag = "ok" if steady else "NOISY"
                ok = ok and steady
            print(f"  {name:34s} median {s['median']:12.5g}  q1 {s['q1']:12.5g}  q3 {s['q3']:12.5g}"
                  f"  spread {s['spread']:7.3f}  bound {b if b is not None else '-'}  {flag}  (n={s['n']})")
    return ok


def _env_of(data: dict) -> list:
    envs = []
    for r in data["runs"]:
        e = {k: r["env"].get(k) for k in ENV_KEYS}
        if e not in envs:
            envs.append(e)
    return envs


def compare(a: dict, b: dict) -> bool:
    ea, eb = _env_of(a), _env_of(b)
    if ea != eb or len(ea) != 1:
        print("refusing to compare: recorded environments differ", file=sys.stderr)
        for label, envs in (("A", ea), ("B", eb)):
            for e in envs:
                print(f"  {label}: {json.dumps(e, sort_keys=True)[:400]}", file=sys.stderr)
        return False
    bench = _bench()
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sa, sb = summarise(a), summarise(b)
    ok = True
    for wl in sa:
        print(f"== {wl}")
        for name, x in sa[wl].items():
            y = sb.get(wl, {}).get(name)
            if y is None or not x["median"]:
                continue
            m = spec.get(name, {})
            sign = -1 if m.get("better") == "higher" else 1
            worse = sign * (y["median"] - x["median"]) / abs(x["median"])
            bound = m.get("bound")
            verdict = "" if bound is None else ("ok" if worse <= bound else "WORSE")
            ok = ok and (bound is None or worse <= bound)
            print(f"  {name:34s} A {x['median']:12.5g}  B {y['median']:12.5g}"
                  f"  worse by {worse:+7.3f}  bound {bound if bound is not None else '-'}  {verdict}")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads", default=",".join(w["name"] for w in _bench()["workloads"]))
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--seconds", type=int, default=_bench()["run_seconds"])
    s = sub.add_parser("show")
    s.add_argument("set")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args(argv)
    if args.cmd == "run":
        data = run_set(args.workloads.split(","), _seeds(args.seeds), args.trace, args.seconds)
        with open(args.out, "w") as f:
            json.dump(data, f)
        return 0 if show(data) else 1
    if args.cmd == "show":
        with open(args.set) as f:
            return 0 if show(json.load(f)) else 1
    with open(args.a) as fa, open(args.b) as fb:
        return 0 if compare(json.load(fa), json.load(fb)) else 1


if __name__ == "__main__":
    sys.exit(main())
