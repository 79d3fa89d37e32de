#!/usr/bin/env python3
"""Compare two sets of benchmark results, per workload and metric.

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR

Each directory holds the per-run records `run.py` saves under
`.bench_build/perfbench/results/` (copy that directory aside after each
set). Runs of one workload are compared only when their run configs are
identical apart from the seed: cores, driver memory, input sizes,
workload settings and run length. A set whose runs disagree among
themselves, or two sets whose configs differ, are refused with exit 2.

Each metric is printed with the after/before ratio of its medians. An
end-to-end metric of BENCHMARK.json that got worse by more than its
`bound` (a share of the before median) is flagged, and the command then
exits 1.
"""
import json
import statistics
import sys
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def refuse(msg: str):
    print(f"refused: {msg}")
    sys.exit(2)


def load(d: Path) -> dict:
    """workload -> (config without seed, [metrics of each run])"""
    out = {}
    for f in sorted(d.glob("*-trace0.json")):
        rec = json.loads(f.read_text())
        cfg = {k: v for k, v in rec["config"].items() if k != "seed"}
        w = cfg["workload"]
        if w in out and out[w][0] != cfg:
            refuse(f"{f} has another config than the other {w} runs in {d}")
        out.setdefault(w, (cfg, []))[1].append(rec["metrics"])
    return out


def worse_by(spec: dict, before: float, after: float) -> float:
    """How much worse `after` is than `before`, as a share of `before`."""
    d = (after - before) if spec["better"] == "lower" else (before - after)
    return d / before if before else float("nan")


def main():
    before, after = load(Path(sys.argv[1])), load(Path(sys.argv[2]))
    flagged = 0
    for w in sorted(set(before) & set(after)):
        (cb, rb), (ca, ra) = before[w], after[w]
        if cb != ca:
            diff = {k: (cb.get(k), ca.get(k)) for k in set(cb) | set(ca) if cb.get(k) != ca.get(k)}
            refuse(f"{w} configs differ: {diff}")
        for name in sorted(set(rb[0]) & set(ra[0])):
            b = statistics.median(m[name]["value"] for m in rb)
            a = statistics.median(m[name]["value"] for m in ra)
            ratio = a / b if b else float("nan")
            note = ""
            if name in BOUNDS:
                worse = worse_by(BOUNDS[name], b, a)
                if worse > BOUNDS[name]["bound"]:
                    note = f"  WORSE than bound {BOUNDS[name]['bound']} ({worse:+.1%})"
                    flagged += 1
            print(f"{w:12s} {name:24s} before={b:.6g} after={a:.6g} after/before={ratio:.3f} "
                  f"{rb[0][name]['unit']} (runs {len(rb)} vs {len(ra)}){note}")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
