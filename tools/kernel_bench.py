"""Microbenchmark for the DP string-comparator kernels (distances.py).

Measures rows/sec for affine_gap / jaro_winkler on a synthetic
near-duplicate batch, single-process pinned to 1 core and in P pinned
worker processes (1 core each), reporting the wall scaling
efficiency 1->P. The kernels are the hot path of the scoring stage; if
they are DRAM-bandwidth-bound the parallel legs inflate, which shows up
directly in the north_rule local[N] vs local[4N] reading.

Usage: python tools/kernel_bench.py [P] [batch_rows]
"""

from __future__ import annotations

import multiprocessing as mp
import os
import sys
import time

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")


def _make_batch(n: int, seed: int):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    words = ["".join(rng.choice(list("abcdefghijklmnop"), size=rng.integers(3, 9))) for _ in range(200)]
    a, b = [], []
    for _ in range(n):
        w = [words[i] for i in rng.integers(0, 200, size=rng.integers(2, 6))]
        s = " ".join(w)
        t = list(s)
        for _ in range(int(rng.integers(0, 4))):
            p = int(rng.integers(0, len(t)))
            t[p] = chr(ord("a") + int(rng.integers(0, 26)))
        a.append(s)
        b.append("".join(t))
    return pd.Series(a), pd.Series(b)


def _run_kernels(args) -> dict:
    cpu, n, seed = args
    try:
        os.sched_setaffinity(0, {cpu})
    except OSError:
        pass
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sparklink import distances as D

    a, b = _make_batch(n, seed)
    out = {}
    # warm (JIT numpy caches, allocator)
    D.affine_gap(a[:512], b[:512])
    for name, fn in (
        ("affine_gap", D.affine_gap),
        ("jaro_winkler", D.jaro_winkler),
    ):
        t0 = time.time()
        fn(a, b)
        out[name] = time.time() - t0
    return out


def main() -> None:
    procs = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 40000
    ctx = mp.get_context("spawn")
    # serial leg: 1 pinned worker
    with ctx.Pool(1) as p:
        serial = p.map(_run_kernels, [(0, n, 1)])[0]
    # parallel leg: P pinned workers, IDENTICAL batch per worker (same
    # seed — differing batches confound the serial/parallel comparison)
    with ctx.Pool(procs) as p:
        par = p.map(_run_kernels, [(c, n, 1) for c in range(procs)])
    import json

    rep = {}
    for k in serial:
        worst = max(r[k] for r in par)
        rep[k] = {
            "rows_per_sec_1": round(n / serial[k], 0),
            "rows_per_sec_each_of_%d" % procs: round(n / worst, 0),
            "eff_1_to_%d" % procs: round(serial[k] / worst, 3),
        }
    print(json.dumps(rep, indent=1))


if __name__ == "__main__":
    main()
