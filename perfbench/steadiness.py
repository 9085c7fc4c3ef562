"""Steadiness record: repeat the benchmark and report each metric's spread.

    python3 perfbench/steadiness.py --seeds 10 --traced 3

For seeds 1..N, runs each workload once per set, alternating two sets
(A, B, A, B, ...), all with identical code.  Per workload, set and
end-to-end metric it reports the median, quartiles, range and the
quartile spread as a share of the median (what the benchmark's bounds
are checked against), plus how far set B's median moved from set A's.
``--traced N`` adds N traced runs per workload for the tracing overhead
on ops_per_s and the median per-layer figures.  Raw results go to
``.bench_work/steadiness/runs.jsonl`` (one line per run, written as
runs finish, started afresh by each call); the summary is printed as
markdown.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def bench_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    info = {
        key: json.loads(line[len(f"# {key} "):])
        for line in lines
        for key in ("setup", "ambient")
        if line.startswith(f"# {key} ")
    }
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "rc": p.returncode, "wall_s": time.time() - t0, "result": res,
        **info, "stderr_tail": None if res else p.stderr[-2000:],
    }


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med, "q1": q1, "q3": q3, "min": min(values),
        "max": max(values), "iqr_share": (q3 - q1) / med if med else 0.0,
    }


def summarize(runs: list[dict], spec: dict) -> str:
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    out = []
    for w in [x["name"] for x in spec["workloads"]]:
        rows = [r for r in runs if r["workload"] == w and r["trace"] == 0]
        if not rows:
            continue
        bad = [r for r in rows if not (r["result"] and r["result"]["correct"])]
        out.append(f"\n### {w}\n")
        out.append(
            f"{len(rows)} untraced runs, {len(bad)} failed or incorrect; "
            f"run wall median {statistics.median(r['wall_s'] for r in rows):.1f} s\n"
        )
        out.append("| metric | set | n | median | q1 | q3 | min | max | IQR/median | bound | B vs A |")
        out.append("|---|---|---|---|---|---|---|---|---|---|---|")
        for name, m in e2e.items():
            meds = {}
            for s in sorted({r["set"] for r in rows}):
                vals = [r["result"]["metrics"][name]["value"]
                        for r in rows if r["set"] == s and r["result"]]
                if len(vals) < 2:
                    continue
                st = spread(vals)
                meds[s] = st["median"]
                drift = ""
                if s != "A" and meds.get("A"):
                    d = (st["median"] - meds["A"]) / meds["A"]
                    drift = f"{d:+.1%}"
                out.append(
                    f"| {name} | {s} | {len(vals)} | {st['median']:.4g} | {st['q1']:.4g} | "
                    f"{st['q3']:.4g} | {st['min']:.4g} | {st['max']:.4g} | "
                    f"{st['iqr_share']:.1%} | {m['bound']:.0%} | {drift} |"
                )
        out.append(
            "\nSet-up split (median pass) and box speed, medians per set:\n"
        )
        out.append("| set | start_s | fixture_s | build_s | warmup_s | spin_s | membw_gbps |")
        out.append("|---|---|---|---|---|---|---|")
        for s in sorted({r["set"] for r in rows}):
            sel = [r for r in rows if r["set"] == s and "setup" in r]
            if not sel:
                continue
            cell = [
                statistics.median(r["setup"][k] for r in sel)
                for k in ("start_s", "fixture_s", "build_s", "warmup_s")
            ] + [
                statistics.median(r["ambient"][k] for r in sel)
                for k in ("spin_s", "membw_gbps")
            ]
            out.append(f"| {s} | " + " | ".join(f"{c:.4g}" for c in cell) + " |")
        amb = [r for r in rows if r["result"] and "ambient" in r]
        if len(amb) > 2:
            p50 = [r["result"]["metrics"]["op_p50_s"]["value"] for r in amb]
            corr = {
                k: statistics.correlation(p50, [r["ambient"][k] for r in amb])
                for k in ("spin_s", "membw_gbps")
            }
            out.append(
                f"\nCorrelation of op_p50_s with the box probes over these runs: "
                f"spin_s {corr['spin_s']:+.2f}, membw_gbps {corr['membw_gbps']:+.2f}.\n"
            )
        traced = [r for r in runs if r["workload"] == w and r["trace"] == 1 and r["result"]]
        if traced:
            t_ops = statistics.median(
                r["result"]["metrics"]["bench.traced_ops_per_s"]["value"] for r in traced)
            u_ops = statistics.median(
                r["result"]["metrics"]["ops_per_s"]["value"] for r in rows if r["result"])
            out.append(
                f"\nTracing overhead on ops_per_s: {1 - t_ops / u_ops:+.1%} (positive: traced slower) "
                f"(traced median {t_ops:.4g}/s over {len(traced)} runs, "
                f"untraced median {u_ops:.4g}/s).\n"
            )
            names = traced[0]["result"]["metrics"].keys()
            out.append("| per-layer metric | median | unit |")
            out.append("|---|---|---|")
            for n in names:
                vals = [r["result"]["metrics"][n]["value"] for r in traced]
                if any(vals):
                    out.append(
                        f"| {n} | {statistics.median(vals):.4g} | "
                        f"{traced[0]['result']['metrics'][n]['unit']} |"
                    )
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--traced", type=int, default=0)
    a = ap.parse_args(argv)
    spec = bench_spec()
    out_dir = ROOT / ".bench_work" / "steadiness"
    out_dir.mkdir(parents=True, exist_ok=True)
    log = out_dir / "runs.jsonl"
    log.unlink(missing_ok=True)
    runs = []

    def record(r, label):
        runs.append(r)
        with open(log, "a") as f:
            f.write(json.dumps(r) + "\n")
        print(f"{r['workload']} seed={r['seed']} {label} rc={r['rc']} "
              f"wall={r['wall_s']:.1f}s", file=sys.stderr, flush=True)

    for seed in range(1, a.seeds + 1):
        for w in [x["name"] for x in spec["workloads"]]:
            for s in "AB":
                r = run_once(w, seed, spec["run_seconds"], 0)
                r["set"] = s
                record(r, f"set={s}")
            if seed <= a.traced:
                r = run_once(w, seed, spec["run_seconds"], 1)
                r["set"] = "T"
                record(r, "traced")
    print(summarize(runs, spec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
