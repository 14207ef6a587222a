"""Compare two sets of benchmark runs: a parent and a change.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are directories of run records (the JSON files
`perfbench/run.py` keeps under `perfbench/.results/`, or saved stdout of
its runs), made with the same benchmark code and run length. For every
workload and every end-to-end metric, prints each side's median and
quartiles, the share of pairs the change won, and a verdict:

- improved: the change wins at least 9/10 of the pairs (ties count for
  neither side) and the medians differ by more than the parent's spread
  (the distance between its quartiles);
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- unresolved: not worse by the bound, but the parent's own spread is wider
  than the bound and the change's runs do not all beat the parent's;
- unchanged: otherwise.

Pairs are formed by seed when both sides ran the same seeds, else in order.
Metrics the records carry beyond BENCHMARK.json (the per-workload latencies
and amplifications under "untraced", all lower-is-better) are compared the
same way against DEFAULT_BOUND.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_BOUND = 0.25


def load(path):
    """{workload: {seed: record}} from the untraced records under `path`."""
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        if not os.path.isfile(f):
            continue
        with open(f) as fh:
            text = fh.read()
        for rec in _records(text):
            if isinstance(rec, dict) and "workload" in rec and rec.get("trace") == 0:
                out.setdefault(rec["workload"], {})[rec["seed"]] = rec
    return out


def _records(text):
    """A record file holds one JSON object; saved stdout holds one a line."""
    try:
        yield json.loads(text)
    except ValueError:
        for line in text.splitlines():
            try:
                yield json.loads(line)
            except ValueError:
                pass


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def verdict(pv, cv, bound, higher):
    """(verdict, share of pairs won by the change) for paired value lists."""
    sign = -1 if higher else 1  # +: worse
    pairs = list(zip(pv, cv))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    share = wins / len(pairs) if pairs else 0.0
    pq1, pmed, pq3 = quartiles(pv)
    cmed = statistics.median(cv)
    worse_by = sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
    if share >= 0.9 and abs(cmed - pmed) > (pq3 - pq1):
        return "improved", share
    if worse_by > bound:
        return "worse", share
    spread = (pq3 - pq1) / abs(pmed) if pmed else 0.0
    all_better = all(sign * (c - p) < 0 for c in cv for p in pv)
    if spread > bound and not all_better:
        return "unresolved", share
    return "unchanged", share


def main(parent_dir, change_dir):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}
    parent, change = load(parent_dir), load(change_dir)
    print(f"{'workload':16} {'metric':16} {'parent med [q1, q3]':>30} "
          f"{'change med [q1, q3]':>30} {'won':>5}  verdict")
    for w in sorted(set(parent) & set(change)):
        p, c = parent[w], change[w]
        seeds = sorted(set(p) & set(c))
        if len(seeds) >= min(len(p), len(c)):
            pr, cr = [p[s] for s in seeds], [c[s] for s in seeds]
        else:
            pr, cr = list(p.values()), list(c.values())
        names = list(spec) + sorted(set(pr[0]["untraced"]) - set(spec))
        for name in names:
            pv = [r["untraced"].get(name, {}).get("value") for r in pr]
            cv = [r["untraced"].get(name, {}).get("value") for r in cr]
            if any(v is None for v in pv + cv):
                continue
            m = spec.get(name, {})  # the record's extra metrics are all lower-is-better
            v, share = verdict(pv, cv, m.get("bound", DEFAULT_BOUND), m.get("better") == "higher")
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"  # noqa: E731
            print(f"{w:16} {name:16} {fmt(quartiles(pv)):>30} {fmt(quartiles(cv)):>30} "
                  f"{share:5.2f}  {v}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
