"""The benchmark's arithmetic, kept apart from the JVM so it can be tested.

Inputs are the raw records the JVM side writes (ops, rounds, spans, jobs,
stages, counters); outputs are the metrics named in BENCHMARK.json.
"""
import math
import os
import statistics

# ----------------------------------------------------------------- basics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    """Geometric mean of positive values (0 for an empty list)."""
    if not xs:
        return 0.0
    if any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it: (percentile, value), or None when there are too few samples.
    Nearest rank: with n sorted samples the value at 1-based rank
    k = n - beyond has exactly `beyond` samples beyond it, and is the
    100*k/n-th percentile."""
    n = len(xs)
    k = n - beyond
    if k < 1:
        return None
    return 100.0 * k / n, sorted(xs)[k - 1]


def batch_growth(times):
    """Median of the last third of a run's batch times over the median of
    its first third (thirds of at least one batch); 0 with fewer than two
    batches."""
    if len(times) < 2:
        return 0.0
    third = max(1, len(times) // 3)
    return median(times[-third:]) / median(times[:third])


def dir_bytes(*dirs):
    """(files, bytes) of every regular file under the given directories;
    symbolic links are neither followed nor counted, missing dirs are 0."""
    files = size = 0
    for d in dirs:
        for root, _, names in os.walk(d):
            for name in names:
                p = os.path.join(root, name)
                if os.path.isfile(p) and not os.path.islink(p):
                    files += 1
                    size += os.path.getsize(p)
    return files, size


def interval_union(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ attribution


def module_of(call_site):
    """Module of the innermost `graft.*` frame of a Spark call site (the
    frames run innermost first), or None when there is none. A class at
    the package root (graft.Tables) is module "graft"."""
    for line in call_site.splitlines():
        frame = line.strip()
        if frame.startswith("graft."):
            parts = frame.split("(", 1)[0].split(".")
            return parts[1] if len(parts) > 3 else "graft"
    return None


def attribute_jobs(jobs, spans):
    """Module per job id. A job without a graft frame (one started by the
    benchmark itself, or on a broadcast/AQE thread whose stack holds no
    caller) takes the module of another job of the same SQL execution, and
    failing that the layer of the benchmark span that issued it."""
    span_layer = {s["id"]: s["name"].split(".", 1)[0] for s in spans}
    by_job = {j["id"]: module_of(j["call_site"]) for j in jobs}
    by_exec = {}
    for j in jobs:
        if by_job[j["id"]] and j.get("execution"):
            by_exec.setdefault(j["execution"], by_job[j["id"]])
    out = {}
    for j in jobs:
        out[j["id"]] = (by_job[j["id"]] or by_exec.get(j.get("execution"))
                        or span_layer.get(j["span"], "bench"))
    return out
