"""Pure metric rules of the benchmark: percentiles, the tail rule, fail
accounting and host-steal parsing. Kept free of I/O so the self-tests in
tests/ can pin them."""
import math
import statistics


def percentile(values, pct):
    """Nearest-rank percentile: the smallest value with at least `pct`
    percent of the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def samples_beyond(n, pct):
    """How many of `n` samples lie strictly above the nearest-rank `pct`."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def tail(values, pct, min_beyond=10):
    """The workload's fixed tail percentile, with its sample count.

    Each workload fixes `pct` as the highest percentile that leaves at
    least `min_beyond` samples beyond it at its usual sample size. A run
    whose sample is too small for that raises instead of reporting a tail
    the sample cannot support."""
    n = len(values)
    if samples_beyond(n, pct) < min_beyond:
        raise ValueError(f"p{pct:g} needs {min_beyond} samples beyond it; "
                         f"{n} samples leave {samples_beyond(n, pct)}")
    return percentile(values, pct), n


def median(values):
    return statistics.median(values)


def fail_accounting(ok_flags, mismatches):
    """(attempted, failed): every op attempted, each failed or wrong op,
    plus each output check that found a mismatch (one count per check)."""
    ok_flags = list(ok_flags)
    attempted = len(ok_flags) + len(mismatches)
    failed = sum(1 for ok in ok_flags if not ok) + len(mismatches)
    return attempted, failed


def parse_proc_stat(text):
    """Aggregate CPU jiffies from /proc/stat: (total, steal)."""
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            vals = [int(x) for x in parts[1:]]
            # user nice system idle iowait irq softirq steal guest guest_nice;
            # guest time is already counted in user/nice
            total = sum(vals[:8])
            steal = vals[7] if len(vals) > 7 else 0
            return total, steal
    raise ValueError("no aggregate cpu line in /proc/stat")


def steal_frac(before, after):
    """Share of CPU time the hypervisor stole between two /proc/stat reads."""
    (t0, s0), (t1, s1) = parse_proc_stat(before), parse_proc_stat(after)
    return (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0


def self_times(spans):
    """Self time per layer in ms: each span's duration minus the part of
    it its children cover. `spans` are (id, parent, name, start, end); the
    layer is the name's first dot-separated part."""
    children = {}
    for sid, parent, name, start, end in spans:
        children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, parent, name, start, end in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for cs, ce in sorted(children.get(sid, [])):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        layer = name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (end - start) - covered
    return out
