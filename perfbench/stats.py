"""Turns a benchmark JVM's run record into the reported metrics.

Pure functions only, so `test_stats.py` can check them without a JVM."""
import math

# Percentiles tried for a tail figure, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def nearest_rank(sorted_xs, p):
    """Value at percentile p (nearest-rank) and how many samples lie beyond it."""
    n = len(sorted_xs)
    rank = max(1, int(math.ceil(p / 100.0 * n - 1e-9)))
    return sorted_xs[rank - 1], n - rank


def tail(xs):
    """(percentile, value, beyond) for the highest percentile in
    TAIL_PERCENTILES with at least MIN_BEYOND samples beyond it, or None
    when there are too few samples for any."""
    s = sorted(xs)
    for p in TAIL_PERCENTILES:
        if not s:
            break
        v, beyond = nearest_rank(s, p)
        if beyond >= MIN_BEYOND:
            return p, v, beyond
    return None


def pct_name(p):
    return ("p%g" % p).replace(".", "_")


def counts(record):
    """(attempted, failed): every op of the timed window plus every final
    check; a wrong answer, an exception and a failed check each count once."""
    ops = record["ops"].values()
    checks = record["checks"]
    attempted = sum(o["attempted"] for o in ops) + len(checks)
    failed = sum(o["failed"] for o in ops) + sum(1 for c in checks if not c["ok"])
    return attempted, failed


def end_to_end(record):
    """The gated metrics, by name: value only (units come from BENCHMARK.json)."""
    ctx = record["context"]
    ops = record["ops"]
    prim = [ops.get(k, {}).get("lat_ms", []) for k in record["primaries"]]
    done = sum(len(o["lat_ms"]) for o in ops.values())
    out = {
        "setup_s": ctx["jvm_to_session_s"] + median(record["setup_rep_s"]) + record["warmup_s"],
        "ops_per_s": done / record["timed_s"],
        "heap_per_user_byte": record["heap_added_bytes"] / float(max(record["user_bytes"], 1)),
    }
    if all(prim):
        out["op_p50_ms"] = sum(median(lat) for lat in prim) / len(prim)
    return out


def op_lines(record):
    """Per-op-kind figures of the timed window, as (name, value, unit, note)."""
    lines = []
    for kind in sorted(record["ops"]):
        o = record["ops"][kind]
        lat = o["lat_ms"]
        if lat:
            lines.append(("%s_p50_ms" % kind, median(lat), "ms", "n=%d" % len(lat)))
            t = tail(lat)
            if t and t[0] > 50.0:  # a p50 tail would repeat the median
                p, v, beyond = t
                lines.append(("%s_%s_ms" % (kind, pct_name(p)), v, "ms",
                              "n=%d, %d beyond" % (len(lat), beyond)))
        lines.append(("%s_error_rate" % kind, o["failed"] / float(max(o["attempted"], 1)),
                      "fraction", "%d of %d failed" % (o["failed"], o["attempted"])))
    attempted, failed = counts(record)
    lines.append(("error_rate", failed / float(max(attempted, 1)), "fraction",
                  "%d of %d failed (ops and checks)" % (failed, attempted)))
    lines.append(("cpu_s", record["cpu_s"], "s", "JVM CPU over the timed window"))
    lines.append(("jit_s", record["jit_s"], "s", "JIT compilation over the timed window"))
    lines.append(("gc_s", record["gc_s"], "s", "GC pauses over the timed window"))
    return lines


def result(record, spec, traced):
    """The final result object. `spec` is BENCHMARK.json; the metrics are
    exactly its end_to_end list (untraced) or per_layer list (traced)."""
    attempted, failed = counts(record)
    if traced:
        values = record.get("layers", {})
        wanted = spec["per_layer"]
    else:
        values = end_to_end(record)
        wanted = spec["end_to_end"]
    metrics = {}
    missing = []
    for m in wanted:
        v = values.get(m["name"])
        if v is None or not isinstance(v, (int, float)) or isinstance(v, bool) \
                or math.isnan(v) or math.isinf(v):
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        raise KeyError("run record lacks metrics: %s" % ", ".join(missing))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
