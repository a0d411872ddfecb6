"""Repeated runs of the benchmark, and the committed layer table.

    python3 perfbench/report.py spread --workload survey --seeds 1 2 3 4 5
    python3 perfbench/report.py layers --seed 1

``spread`` runs ``run.py`` once per seed and prints, per metric, the
values, their median and the inter-quartile distance as a share of the
median -- the figure the bounds in BENCHMARK.json are set against.

``layers`` makes untraced and traced runs per workload, alternating,
and writes ``perfbench/LAYERS.md``: every per-layer metric of the last
traced run, the ten slowest entries with the layer that dominates
each, and the tracing overhead (median traced ``pass_s`` minus median
untraced ``pass_s``).
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
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.stats import spread  # noqa: E402


def bench(workload: str, seed: int, trace: int) -> tuple[dict, list[dict], float]:
    """One run: its result line, the lines before it, and its wall time."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
    ).stdout.strip().splitlines()
    lines = [json.loads(ln) for ln in out if ln.startswith("{")]
    return lines[-1], lines[:-1], time.perf_counter() - t0


def cmd_spread(args) -> None:
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        res, _, wall = bench(args.workload, seed, args.trace)
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": res["correct"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(args.seeds) >= 2:
        for k, vs in values.items():
            print(f"{k:24s} median {statistics.median(vs):10.4f}  spread {spread(vs):.4f}")


def cmd_layers(args) -> None:
    parts = [
        "# Per-layer table",
        "",
        f"Seed {args.seed}, {args.repeat} untraced and {args.repeat} traced runs per workload,"
        " made with `python3 perfbench/report.py layers`.  Per-layer figures are those"
        " of the last traced run, per measured"
        " pass; entry figures are medians over the measured passes.  `plan` is the"
        " Catalyst phases, `exec` the entry's Spark jobs with overlaps merged, and"
        " `driver` the rest of the entry's wall time (`driver.unattributed_s`).",
        "",
    ]
    slowest = []
    for wl in WORKLOADS:
        plain, traced = [], []
        for _ in range(args.repeat):
            plain.append(bench(wl, args.seed, 0)[0]["metrics"]["pass_s"]["value"])
            res, info, _ = bench(wl, args.seed, 1)
            traced.append(res["metrics"]["traced.pass_s"]["value"])
        table = next(i["layer_table"] for i in info if "layer_table" in i)
        with open(os.path.join(ROOT, os.path.dirname(table), "layers.json")) as fh:
            layers = json.load(fh)
        with open(os.path.join(ROOT, table)) as fh:
            body = fh.read()
        t, u = statistics.median(traced), statistics.median(plain)
        parts += [body, f"Tracing overhead: median traced `pass_s` {t:.3f} s - median untraced"
                  f" {u:.3f} s = {t - u:+.3f} s (runs: traced {', '.join(f'{v:.3f}' for v in traced)};"
                  f" untraced {', '.join(f'{v:.3f}' for v in plain)}).", ""]
        slowest += [dict(e, workload=wl) for e in layers["entries"]]
    parts += ["### Ten slowest entries, both workloads", "",
              "| workload | entry | wall s | dominant layer | most self time |", "|---|---|---:|---|---|"]
    for e in sorted(slowest, key=lambda e: -e["wall_s"])[:10]:
        span, t = e["top_span"]
        parts.append(f"| {e['workload']} | {e['entry']} | {e['wall_s']:.3f} | {e['dominant']}"
                     f" | `{span}` {t:.3f} s |")
    with open(os.path.join(HERE, "LAYERS.md"), "w") as fh:
        fh.write("\n".join(parts) + "\n")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    s.add_argument("--seeds", type=int, nargs="+", required=True)
    s.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s.set_defaults(fn=cmd_spread)
    ly = sub.add_parser("layers")
    ly.add_argument("--seed", type=int, default=1)
    ly.add_argument("--repeat", type=int, default=3)
    ly.set_defaults(fn=cmd_layers)
    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
