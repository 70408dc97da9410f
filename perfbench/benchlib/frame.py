"""The frozen query frame, the representative picks from it, and the
seeded order.

queries.tsv lists every SparkEntry query with the module it calls and a
calibrated cost (seconds for one steady run at local[4] on the
benchmark's generated tables). The frame is frozen in the benchmark, so a
workload runs the same operations on every commit; a query missing from
the registry then fails loudly instead of changing the workload.
"""
import os
import random

FRAME = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "queries.tsv")


def load(path=FRAME):
    rows = []
    with open(path) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            name, module, cost = line.rstrip("\n").split("\t")
            rows.append((name, module, float(cost)))
    return rows


def allocate(counts, n):
    """Split n picks across strata: one per stratum, and the rest in
    proportion to stratum size by largest remainder."""
    if n < len(counts):
        raise ValueError(f"{n} picks cannot cover {len(counts)} strata")
    total, rest = sum(counts.values()), n - len(counts)
    raw = {k: rest * c / total for k, c in counts.items()}
    out = {k: 1 + int(v) for k, v in raw.items()}
    for k in sorted(counts, key=lambda k: (int(raw[k]) - raw[k], k))[: n - sum(out.values())]:
        out[k] += 1
    return out


def pick(rows, n):
    """n representative queries, stratified by module: each module gets
    picks in proportion to its share (at least one); its queries sorted by
    cost are cut into that many equal bins and the median-cost query of
    each bin is picked. Deterministic, so run-to-run cost stays level."""
    mods = {}
    for name, module, cost in rows:
        mods.setdefault(module, []).append((cost, name))
    alloc = allocate({m: len(v) for m, v in mods.items()}, n)
    picked = []
    for m in sorted(mods):
        qs = sorted(mods[m])
        k = alloc[m]
        for b in range(k):
            lo, hi = b * len(qs) // k, (b + 1) * len(qs) // k
            picked.append(qs[(lo + hi - 1) // 2][1])
    return picked


def order(ops, seed):
    """The operations in the order the seed sets."""
    out = list(ops)
    random.Random(seed).shuffle(out)
    return out
