#!/usr/bin/env python3
"""Compare sets of benchmark runs against the bounds in BENCHMARK.json.

    python3 perfbench/compare.py A.jsonl [B.jsonl]

Each file holds results appended by `run.py --record FILE`, one run per line
(untraced runs; traced lines are skipped). For every workload and end-to-end
metric it prints the median and the spread: the distance between the first
and third quartile (`statistics.quantiles(values, n=4)`) as a share of the
median. With one file it checks that each spread, except that of setup_s,
stays within the metric's bound. With two files, A the parent and B the
change, it reports each metric as

  ok          B's median is not worse than A's by more than the bound;
  regressed   B's median is worse by more than the bound;
  unresolved  a spread exceeds the bound, so the runs cannot tell,
              unless every run of B reads better than every run of A.

It exits 1 when a metric is out of bounds, regressed or unresolved.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = defaultdict(lambda: defaultdict(list))
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("trace"):
                continue
            for name, m in r["metrics"].items():
                runs[r["workload"]][name].append(m["value"])
    return runs


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load(p) for p in argv[1:3]]
    bad = False
    for w in [x["name"] for x in bench["workloads"]]:
        for name, m in metrics.items():
            vals = [s[w][name] for s in sets]
            if any(len(v) < 2 for v in vals):
                print(f"{w:16} {name:16} too few runs")
                bad = True
                continue
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            wide = name != "setup_s" and any(sp > m["bound"] for sp in spreads)
            cells = " ".join(f"median={md:.6g} spread={sp:.3f} n={len(v)}"
                             for md, sp, v in zip(meds, spreads, vals))
            if len(sets) == 1:
                verdict = "OUT OF BOUND" if wide else "ok"
            else:
                a, b = vals
                lower = m["better"] == "lower"
                worse = (meds[1] - meds[0]) / meds[0] * (1 if lower else -1)
                all_better = (max(b) < min(a)) if lower else (min(b) > max(a))
                if wide and not all_better:
                    verdict = "unresolved"
                elif worse > m["bound"]:
                    verdict = f"regressed {worse:+.1%}"
                else:
                    verdict = f"ok {worse:+.1%}"
            bad |= verdict.split()[0] in ("OUT", "unresolved", "regressed")
            print(f"{w:16} {name:16} bound={m['bound']:<5} {cells}  {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sys.exit(main(sys.argv))
