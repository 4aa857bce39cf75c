"""Summary statistics and process measurements shared by the workloads."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import statistics
from decimal import Decimal

# Percentiles the tail is picked from, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: list[float]) -> dict | None:
    """The highest ladder percentile with at least ten samples beyond
    it, as {"p": percentile, "value": ..., "n": sample count}; None when
    even p50 has fewer than ten samples above its rank."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(p / 100.0 * n)) >= 10:
            return {"p": p, "value": percentile(values, p), "n": n}
    return None


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summary(values: list[float]) -> dict:
    """Median, tail and sample count of one timing series."""
    return {"p50": statistics.median(values), "tail": tail(values), "n": len(values)}


def peak_rss_mb(pid: int) -> float:
    """A process's peak resident set (VmHWM), MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for process {pid}")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by a process and all its descendants: here the driver, its JVM,
    and the Python workers the JVM forks."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(f) for f in fields[11:15])
    tree, frontier = {root}, [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        tree.update(kids)
        frontier = kids
    return sum(cpu.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def row_hash(rows) -> str:
    """Order-insensitive digest of a row collection: sha256 over the
    sorted canonical rows."""
    h = hashlib.sha256()
    for line in sorted(canon(r) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def canon(v) -> str:
    """Typed canonical text of a value: every number as one numeric
    token (floats and decimals at 12 significant digits, so two
    engines' last-ulp or int-vs-double differences do not register),
    timestamps as naive UTC, maps and structs by sorted key."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"n:{v}"
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return "n:nan" if math.isnan(f) else f"n:{f:.12g}"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, str):
        return "s:" + repr(v)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return "t:" + v.isoformat()
    return f"o:{v}"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
