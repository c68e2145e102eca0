"""Checks around the benchmark, each built from fresh ``run.py`` processes
run one after another (never two at once):

    python3 perfbench/tools.py spread   --workload W [--seeds 1-10]
    python3 perfbench/tools.py overhead --workload W [--seed 1]
    python3 perfbench/tools.py exact    --workload W [--seed 1]

``spread`` prints each end-to-end metric's median, quartiles and
quartile spread (Q3 - Q1) / median over the seeds, against the metric's
bound in BENCHMARK.json. ``overhead`` compares a traced run with an
untraced run of the same seed, metric by metric. ``exact`` makes two
traced runs of one seed and checks that the per-call Spark job counts of
the exact-count spans, and each commit op's rows written per event,
repeat exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import EXACT_SPANS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tagged(lines: list[str], tag: str):
    """The JSON after ``tag`` on the stdout line it starts, or None."""
    return next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                 if ln.startswith(tag + " ")), None)


def run_once(workload: str, seed: int, trace: int = 0
             ) -> tuple[dict, dict | None, dict | None]:
    """(result, traced end-to-end metrics, traced per-call span job
    counts) of one fresh run; the last two are None untraced."""
    spec = _spec()
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed (exit {p.returncode}): {' '.join(cmd)}"
                         f"\n{p.stderr[-2000:]}")
    return (json.loads(lines[-1]), _tagged(lines, "traced_end_to_end"),
            _tagged(lines, "traced_calls"))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(args) -> None:
    bounds = {m["name"]: m["bound"] for m in _spec()["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.monotonic()
        res, _, _ = run_once(args.workload, seed)
        print(json.dumps({"seed": seed, "run_s": time.monotonic() - t0,
                          **{k: v["value"] for k, v in
                             res["metrics"].items()}}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        rel = (q3 - q1) / q2
        verdict = "ok" if rel < bounds[k] / 3 else "WIDE"
        print(f"{args.workload:16s} {k:14s} median {q2:12.4f}  "
              f"q1 {q1:12.4f}  q3 {q3:12.4f}  spread {rel:6.3f}  "
              f"bound {bounds[k]:.2f}  {verdict}")


def overhead(args) -> None:
    plain, _, _ = run_once(args.workload, args.seed)
    _, traced, _ = run_once(args.workload, args.seed, trace=1)
    for k, v in plain["metrics"].items():
        t = traced[k]["value"]
        print(f"{args.workload:16s} {k:14s} untraced {v['value']:12.4f}  "
              f"traced {t:12.4f}  overhead {(t - v['value']) / v['value']:+.3f}")


def exact(args) -> None:
    calls = [run_once(args.workload, args.seed, trace=1)[2]
             for _ in range(2)]
    ok = True
    for name in EXACT_SPANS + ["table.commit_merge.rows_written_per_event"]:
        a, b = calls[0].get(name, []), calls[1].get(name, [])
        n = min(len(a), len(b))
        same = a[:n] == b[:n]
        ok &= same
        print(f"{args.workload:16s} {name:42s} {'exact' if same else 'VARIES'}"
              f"  run1 {a[:n]}  run2 {b[:n]}")
    if not ok:
        raise SystemExit(1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name, fn in (("spread", spread), ("overhead", overhead),
                     ("exact", exact)):
        p = sub.add_parser(name)
        p.add_argument("--workload", required=True)
        if name == "spread":
            p.add_argument("--seeds", default="1-10")
        else:
            p.add_argument("--seed", type=int, default=1)
        p.set_defaults(fn=fn)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
