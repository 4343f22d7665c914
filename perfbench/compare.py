"""A/B report over two sets of runs recorded with ``run.py --record``.

For every workload x end-to-end metric it prints the median and
quartiles of each side and a verdict against the metric's bound in
``BENCHMARK.json``:

* ``regressed``  - B's median is worse than A's by more than the bound;
* ``improved``   - B wins at least 9 of every 10 seed-paired runs (at
  least 10 pairs, ties count for neither side) and the medians differ by
  more than the distance between A's quartiles;
* ``unchanged``  - neither, the medians differ by at most the bound, and
  the spread of each side (quartile distance over median) is within it;
* ``unresolved`` - anything else, e.g. a spread wider than the bound.

It also prints the host spins of each side, so a shift of the host
between the two sets shows, and the tracing overhead where a set holds
traced and untraced runs of the same workload: the median
``trace.pass_s`` of the traced runs over the median ``pass_s`` of the
untraced ones.  End-to-end figures come from untraced runs only.
"""

from __future__ import annotations

import json
import os
import statistics

WIN_SHARE = 0.9
MIN_PAIRS = 10


def _load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a: dict[int, float], b: dict[int, float], bound: float,
            better: str) -> tuple[str, int, int]:
    """``a``/``b`` map seed -> value.  Returns (verdict, wins, pairs)."""
    sign = -1.0 if better == "lower" else 1.0
    seeds = sorted(set(a) & set(b))
    wins = sum(sign * (b[s] - a[s]) > 0 for s in seeds)
    qa, qb = _quartiles(list(a.values())), _quartiles(list(b.values()))
    ma, mb = qa[1], qb[1]
    gain = sign * (mb - ma) / abs(ma) if ma else 0.0
    n = len(seeds)
    if gain < -bound:
        return "regressed", wins, n
    if n >= MIN_PAIRS and wins >= WIN_SHARE * n and \
            sign * (mb - ma) > qa[2] - qa[0]:
        return "improved", wins, n
    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (qa, qb))
    if abs(gain) <= bound and spread <= bound:
        return "unchanged", wins, n
    return "unresolved", wins, n


def _overhead(runs: list[dict], workload: str) -> float | None:
    plain = [r["e2e"]["pass_s"] for r in runs
             if r["workload"] == workload and r["trace"] == 0]
    traced = [r["details"]["layers"]["trace.pass_s"] for r in runs
              if r["workload"] == workload and r["trace"] == 1]
    if not plain or not traced:
        return None
    return statistics.median(traced) / statistics.median(plain) - 1.0


def report(path_a: str, path_b: str, root: str) -> int:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = {"A": _load(path_a), "B": _load(path_b)}
    for side, rs in runs.items():
        spins = [r["details"]["layers"] for r in rs]
        if spins:
            print(f"host {side}: spin_s median "
                  f"{statistics.median(s['host.spin_s'] for s in spins):.4f}, "
                  f"pspin_s median "
                  f"{statistics.median(s['host.pspin_s'] for s in spins):.4f} "
                  f"at width {spins[0]['host.pspin_width']}")
    head = (f"{'workload':<10} {'metric':<16} {'A q1/med/q3':>26} "
            f"{'B q1/med/q3':>26} {'change':>8} {'wins':>6}  verdict")
    print(head)
    print("-" * len(head))
    counts: dict[str, int] = {}
    for w in bench["workloads"]:
        name = w["name"]
        sides = {
            s: {r["seed"]: r["e2e"] for r in rs
                if r["workload"] == name and r["trace"] == 0}
            for s, rs in runs.items()
        }
        if not sides["A"] or not sides["B"]:
            continue
        for m in bench["end_to_end"]:
            a = {k: v[m["name"]] for k, v in sides["A"].items()}
            b = {k: v[m["name"]] for k, v in sides["B"].items()}
            qa, qb = _quartiles(list(a.values())), _quartiles(list(b.values()))
            v, wins, n = verdict(a, b, m["bound"], m["better"])
            counts[v] = counts.get(v, 0) + 1
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            print(f"{name:<10} {m['name']:<16} "
                  f"{qa[0]:8.4g}/{qa[1]:8.4g}/{qa[2]:8.4g} "
                  f"{qb[0]:8.4g}/{qb[1]:8.4g}/{qb[2]:8.4g} "
                  f"{change:+8.1%} {wins:>2}/{n:<3}  {v}")
        for s, rs in runs.items():
            ov = _overhead(rs, name)
            if ov is not None:
                print(f"{name:<10} tracing overhead {s}: {ov:+.1%}")
    print(json.dumps({"verdicts": counts}))
    return 1 if counts.get("regressed") else 0
