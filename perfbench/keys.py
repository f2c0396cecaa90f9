"""The stratified draw of `queries` keys recorded in workloads.json.

    python3 perfbench/keys.py <pool.json> <seed> <n> [always,...]

`pool.json` maps each candidate key to its cold seconds in a reference
run. Keys fall into three strata by that cost: the sub-second floor
(< 0.5 s), the middle (0.5 s to 1.5 s) and the tail (>= 1.5 s). Each
stratum gets a share of the `n` keys proportional to its size, but the
tail gets at least `MIN_TAIL`, so that sub-second keys are the majority
and the slow tail is present. The `always` keys are part of every draw
and fill their strata's shares first; the rest of each share is sampled.
The drawn keys run in a seeded order.
"""
import json
import random
import sys

BOUNDS = (0.5, 1.5)
MIN_TAIL = 4


def stratum(cost):
    return sum(cost >= b for b in BOUNDS)


def draw(pool, seed, n, always=()):
    """`n` keys of `pool` ({key: cold seconds}), `always` among them, in
    run order."""
    rng = random.Random(seed)
    strata = [sorted(k for k, c in pool.items() if stratum(c) == s) for s in range(3)]
    quota = [round(n * len(s) / len(pool)) for s in strata]
    quota[2] = min(len(strata[2]), max(quota[2], MIN_TAIL))
    quota[0] = n - quota[1] - quota[2]
    fixed = [[k for k in s if k in always] for s in strata]
    if any(q > len(s) or q < len(f) for q, s, f in zip(quota, strata, fixed)):
        raise ValueError(f"cannot draw {n} keys from strata {list(map(len, strata))} "
                         f"with {len(always)} fixed")
    keys = [k for s, q, f in zip(strata, quota, fixed)
            for k in f + rng.sample([k for k in s if k not in f], q - len(f))]
    rng.shuffle(keys)
    return keys


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        pool = json.load(fh)
    fixed = sys.argv[4].split(",") if len(sys.argv) > 4 else ()
    print(json.dumps(draw(pool, int(sys.argv[2]), int(sys.argv[3]), fixed)))
