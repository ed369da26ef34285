"""Pure helpers of the benchmark: statistics, answer comparison, host facts.

Nothing here imports Spark or the package, so the unit tests in
``test_helpers.py`` run without a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

#: share of MemAvailable given to the driver heap, and its clamp (GiB).
#: The cap is what normally binds, so the heap does not change with the
#: other tenants' memory use from one run to the next.
HEAP_SHARE = 0.25
HEAP_MIN_GIB = 1
HEAP_MAX_GIB = 2


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method), ``q`` in
    [0, 100]. Raises on an empty sample instead of inventing a value."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def tail(values, beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it,
    as ``(percentile, value)``; None when the sample is too small."""
    n = len(values)
    if n < beyond + 1:
        return None
    q = 100.0 * (n - beyond) / n
    # floor to a tenth so the stated percentile never claims more
    q = math.floor(q * 10.0) / 10.0
    return q, percentile(values, q)


def topk_mismatch(got, want, k: int, tol: float = 2e-6) -> str | None:
    """Compare two top-``k`` lists of ``(doc_id, score)`` in rank order.

    Returns None when they agree, else a one-line reason. Scores must
    agree position by position within ``tol``. Docs may differ only
    inside a group of tied scores (equal within ``tol``): a group's doc
    set must be equal on both sides, except for the group that reaches
    the k-th position, because either side may cut that group at a
    different member when one side rounds scores before its doc_id
    tie-break."""
    got = [(int(d), float(s)) for d, s in got]
    want = [(int(d), float(s)) for d, s in want]
    if len(got) != len(want):
        return f"length {len(got)} != {len(want)}"
    for i, ((_, sg), (_, sw)) in enumerate(zip(got, want)):
        if abs(sg - sw) > tol:
            return f"score at rank {i}: {sg!r} != {sw!r}"
    n = len(got)
    i = 0
    while i < n:
        j = i + 1
        while j < n and abs(want[j][1] - want[i][1]) <= tol:
            j += 1
        if j < n or n < k:
            a = {d for d, _ in got[i:j]}
            b = {d for d, _ in want[i:j]}
            if a != b:
                return f"docs at ranks {i}-{j - 1}: {sorted(a)} != {sorted(b)}"
        i = j
    return None


def cpu_probe_ms(iterations: int = 1_000_000, reps: int = 5) -> float:
    """Median wall time of a fixed pure-Python loop: the host's speed at
    this moment, so a slow run on a slow host can be told apart from a
    slow program."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(iterations):
            acc += i & 7
        times.append((time.perf_counter() - t0) * 1000.0)
    return median(times)


def peak_rss_mb() -> float:
    """VmHWM of this process in MiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def mem_available_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / (1024.0 * 1024.0)
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_heap_gib(mem_available: float) -> int:
    """Driver heap from MemAvailable, clamped to [HEAP_MIN_GIB, HEAP_MAX_GIB]."""
    return max(HEAP_MIN_GIB, min(HEAP_MAX_GIB, int(mem_available * HEAP_SHARE)))


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def tree_digest(root: str, suffix: str = ".py") -> str:
    """sha256 over the relative paths and bytes of every ``suffix`` file
    under ``root``: the cache key that ties prepared indexes to the
    package source that built them."""
    h = hashlib.sha256()
    for dp, dns, fns in sorted(os.walk(root)):
        dns[:] = sorted(d for d in dns if d != "__pycache__")
        for fn in sorted(fns):
            if fn.endswith(suffix):
                path = os.path.join(dp, fn)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def tree_bytes(root: str) -> int:
    """Bytes of every regular file under ``root``."""
    total = 0
    for dp, _, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total
