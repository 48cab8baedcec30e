#!/usr/bin/env python3
"""Group the compiles of a Spark CodeGenerator DEBUG log by identical source.

    python3 scripts/codegen_churn.py LOG [--top N] [--json]

With the logger `org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator`
at DEBUG, Spark logs every source it hands to Janino (one record whose
lines read `/* 001 */ ...`) just before compiling it, and then, at INFO,
`Code generated in X ms`. Spark's codegen cache is keyed by the source and
the compiling thread's class loader, so a source that appears more than once
was compiled again: under another class loader (a new session's, on an
executor) or after the cache evicted it. The script prints:

  compiles          compile records in the log;
  distinct          distinct sources among them;
  recompiles        compiles - distinct: the compiles a large enough cache
                    shared by every class loader would have saved;
  repeated_sources  sources compiled more than once, and the compiles of
                    those sources (`compiles_of_repeated`);
  ms                total `Code generated in` time, when the log has it;

then the --top most compiled sources with their count, their share of the
compile time and the generated class name. Time lines are paired with the
compile records in log order; with several threads compiling at once the
per-source times are approximate, the totals are not. Spark truncates a
logged source at `spark.sql.codegen.logging.maxLines` lines, so two sources
that differ only past that line count as one. Lines an sbt fork prefixes
with `[error] ` or `[info] ` are read without the prefix.
"""
import argparse
import collections
import json
import re
import sys

HEADER = re.compile(r"\bDEBUG\b.*\bCodeGenerator\b")
SOURCE_LINE = re.compile(r"^/\* \d+ \*/")
TIME_LINE = re.compile(r"Code generated in ([0-9.]+) ms")
CLASS_NAME = re.compile(r"\bclass (\w+)")
SBT_PREFIX = re.compile(r"^\[\w+\] ")


def parse(lines):
    """The log's compiles, in order, as [source, ms or None] pairs."""
    compiles = []
    times = []
    current = None
    for raw in lines:
        line = SBT_PREFIX.sub("", raw.rstrip("\n"))
        if current is not None and SOURCE_LINE.match(line):
            current.append(line)
            continue
        if current is not None:
            if current:
                compiles.append("\n".join(current))
            current = None
        t = TIME_LINE.search(line)
        if t:
            times.append(float(t.group(1)))
        elif HEADER.search(line):
            current = []
    if current:
        compiles.append("\n".join(current))
    paired = [[src, times[i] if i < len(times) else None] for i, src in enumerate(compiles)]
    return paired, sum(times) if times else None


def class_name(source):
    m = CLASS_NAME.search(source)
    return m.group(1) if m else source.split("\n", 1)[0][:60]


def summarize(compiles, total_ms, top=10):
    counts = collections.Counter(src for src, _ in compiles)
    ms = collections.defaultdict(float)
    for src, t in compiles:
        if t is not None:
            ms[src] += t
    repeated = {src: n for src, n in counts.items() if n > 1}
    return {
        "compiles": len(compiles),
        "distinct": len(counts),
        "recompiles": len(compiles) - len(counts),
        "repeated_sources": len(repeated),
        "compiles_of_repeated": sum(repeated.values()),
        "ms": total_ms,
        "top": [{"class": class_name(src), "compiles": n, "ms": round(ms[src], 1)}
                for src, n in counts.most_common(top)],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log")
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--json", action="store_true", help="print one JSON object")
    args = ap.parse_args()
    with open(args.log, errors="replace") as f:
        compiles, total_ms = parse(f)
    s = summarize(compiles, total_ms, args.top)
    if args.json:
        print(json.dumps(s))
        return 0
    if not s["compiles"]:
        print("no CodeGenerator DEBUG compile records in", args.log, file=sys.stderr)
        return 1
    ms = "n/a" if s["ms"] is None else "%.1f" % s["ms"]
    print("compiles %d  distinct %d  recompiles %d  repeated_sources %d "
          "(compiled %d times)  ms %s" % (s["compiles"], s["distinct"], s["recompiles"],
                                           s["repeated_sources"], s["compiles_of_repeated"], ms))
    for t in s["top"]:
        print("%6d x  %9.1f ms  %s" % (t["compiles"], t["ms"], t["class"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
