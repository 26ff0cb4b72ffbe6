"""Statistics the benchmark reports: median, tail and the end-to-end metrics."""
import math
import statistics


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs):
    """The highest-ranked sample with at least ten samples beyond it.

    Returns (value, percentile, n): with n samples sorted ascending that is
    the sample at index n-11, the (n-10)/n quantile. With fewer than 11
    samples no sample qualifies, which is an error: workloads are sized so
    that every tail they report has enough samples.
    """
    s = sorted(xs)
    n = len(s)
    if n < 11:
        raise ValueError(f"a tail needs at least 11 samples, not {n}")
    return s[n - 11], 100.0 * (n - 10) / n, n


def ratio(num, den):
    if den <= 0:
        raise ValueError(f"ratio with non-positive base {den}")
    return num / den


def trace_overhead(records):
    """Traced over untraced wall of the same ops: per op name, the median
    traced latency over the median untraced one, then their geometric
    mean across names that ran both ways."""
    by = {}
    for r in records:
        if r["ok"]:
            by.setdefault(r["name"], ([], []))[0 if r["traced"] else 1].append(r["s"])
    logs = [math.log(median(t) / median(u)) for t, u in by.values() if t and u]
    return math.exp(sum(logs) / len(logs)) if logs else 1.0


def pass_writes(records, warm, pass_len):
    """Write milliseconds of each pass: the sum over the pass's write ops,
    so that every kind of write moves it."""
    by = {}
    for r in records:
        if r["ok"] and r["kind"] == "write":
            k = (r["i"] - warm) // pass_len
            by[k] = by.get(k, 0.0) + r["s"] * 1e3
    return [by[k] for k in sorted(by)]


def end_to_end(records, run, setup_s, table_bytes, input_bytes, warm, pass_len):
    """Every end-to-end metric of one untraced run, plus the percentile and
    sample count of each latency metric for the report. A run has a few
    passes, too few for a write tail."""
    reads = [r["s"] * 1e3 for r in records if r["ok"] and r["kind"] == "read"]
    writes = pass_writes(records, warm, pass_len)
    q_tail, q_pct, q_n = tail(reads)
    values = {
        "setup_s": setup_s,
        "query_p50_ms": median(reads),
        "query_tail_ms": q_tail,
        "queries_per_s": ratio(len(reads), run["loop_s"]),
        "write_p50_ms": median(writes),
        "cpu_s_per_op": ratio(run["cpu_s"], len(records)),
        "space_amp": ratio(table_bytes, input_bytes),
    }
    detail = {
        "query_p50_ms": f"n={q_n}",
        "query_tail_ms": f"p{q_pct:.1f} n={q_n}",
        "write_p50_ms": f"n={len(writes)} passes",
    }
    return values, detail
