#!/usr/bin/env python3
"""Regenerate the per-query bench trend table in BASELINE.md.

Reads every BENCH_LOCAL_r*.json in the repo root (the committed min-of-reps
local records), takes each query's minimum across its reps per round, and
rewrites the block between the BENCH_TREND markers in BASELINE.md. Future
rounds judge a suspected regression against this history instead of one
noisy record (this machine's timings vary up to 3x under external load).

A round may hold more than one record of the same configuration: the round's
record BENCH_LOCAL_r{N}.json plus re-runs named BENCH_LOCAL_r{N}_alt.json or
BENCH_LOCAL_r{N}_start.json. A query's cell is its minimum across all of
them, calib-adjusted by the calib of the record that minimum came from.
Other suffixes (e.g. _c8, the 8-CPU scaling record) are a different
configuration and are left out.

Usage: python3 scripts/bench_trend.py [repo_root]
"""
import glob
import json
import os
import re
import sys

START = "<!-- BENCH_TREND_START -->"
END = "<!-- BENCH_TREND_END -->"

# Cells adjudicated INVALID by a judging session: the record exists but its
# value is known-wrong, so it renders as ✗ and never feeds a ratio. The r12
# q27 cell is the founding member: the old timeOnce swallowed a throw and
# recorded the wall (0.14s is arithmetically impossible for a 17-iteration
# recursive loop; re-timed on the same commit at 12-18s) — see the r13
# VERDICT "What's wrong" #1. Records from r14 on carry query_err, so new
# failures taint themselves without needing this list.
INVALID = {(12, "q27_recursive_cte"):
           "r13 verdict: bench JVM threw; the throw's wall was recorded"}


RECORD = re.compile(r"BENCH_LOCAL_r(\d+)(_alt|_start)?\.json$")


def load_round(path):
    with open(path) as f:
        rec = json.load(f)
    reps = rec.get("query_reps") or {}
    out = {}
    for q, sec in (rec.get("queries") or {}).items():
        times = reps.get(q) or [sec]
        out[q] = min(times)
    # r14+ records carry query_err: a query with ANY failed rep is tainted —
    # it has no entry in `queries`, and the taint must render as ✗, not as
    # a missing round
    tainted = set((rec.get("query_err") or {}).keys())
    return out, tainted, bool(rec.get("loadHigh")), rec.get("calib_ms")


def merge_round(records):
    """One round from its records, the round's own record first: per query
    the minimum time and the calib of the record it came from; tainted only
    where no record timed the query cleanly; loadHigh and the footer calib
    are the round's own record's."""
    best, tainted = {}, set()
    for out, t, _, c in records:
        tainted |= t
        for q, v in out.items():
            if q not in best or v < best[q][0]:
                best[q] = (v, c)
    _, _, load_high, calib = records[0]
    return ({q: v for q, (v, _) in best.items()},
            {q: c for q, (_, c) in best.items()},
            tainted - set(best), load_high, calib)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    by_round = {}
    # sorted: the round's own record (no suffix) sorts before its re-runs
    for path in sorted(glob.glob(os.path.join(root, "BENCH_LOCAL_r*.json"))):
        m = RECORD.search(path)
        if m:
            by_round.setdefault(int(m.group(1)), []).append(load_round(path))
    rounds, cell_calib, tainted, load_high, calib = {}, {}, {}, {}, {}
    for r, records in by_round.items():
        rounds[r], cell_calib[r], tainted[r], load_high[r], calib[r] = merge_round(records)
    for (r, q) in INVALID:
        if r in rounds:
            rounds[r].pop(q, None)
            tainted[r].add(q)
    if not rounds:
        print("no BENCH_LOCAL_r*.json records found", file=sys.stderr)
        return 1
    rs = sorted(rounds)
    # tainted-only queries (e.g. a new query failing its debut round) must
    # still get a row — rendered as all-✗ — or the failure is invisible
    queries = sorted(set(q for r in rounds.values() for q in r) |
                     set(q for t in tainted.values() for q in t))
    # calib normalization: scale each round's times to the reference core
    # speed (the smallest recorded calib = the fastest host state), so the
    # last/first@calib column separates code drift from host drift. Rounds
    # predating calib_ms can't be adjusted — their ratios stay raw.
    calibs = [calib[r] for r in rs if calib.get(r)]
    ref_calib = min(calibs) if calibs else None

    def adj(r, q, v):
        if v is None:
            return None
        c = cell_calib[r].get(q)
        return v * ref_calib / c if c and ref_calib else v

    lines = [START, "", "## Per-query bench trend (warm minimum seconds, local sf0.1)", "",
             "Regenerated by `scripts/bench_trend.py` from the committed "
             "`BENCH_LOCAL_r*.json` records — min across reps per round, "
             "and across the round's `_alt`/`_start` re-runs (each cell "
             "calib-adjusted by its own record's calib; the `_c8` scaling "
             "record is excluded). "
             "`last/first` flags raw drift across the query's recorded "
             "history (new queries appear mid-table); `@calib` rescales "
             "both ends by the round's `calib_ms` single-core probe "
             "(time × refCalib/calib, ref = fastest recorded host state), "
             "so uniform host slowdown divides out — judge code drift on "
             "the @calib column, and only for rounds that carry calib "
             "(older rounds stay raw). A ⚠ round header marks a record "
             "whose own `loadHigh` flag says it was taken on a loaded "
             "host — judge drift against the nearest clean round "
             "instead. A ✗ cell is a FAILED or adjudicated-invalid "
             "measurement (query_err in the record, or the INVALID list "
             "in bench_trend.py) — it never feeds a ratio.", "",
             "| query | " + " | ".join(
                 f"r{r}" + (" ⚠" if load_high.get(r) else "") for r in rs) +
             " | last/first | @calib |",
             "|---|" + "---|" * (len(rs) + 2)]
    for q in queries:
        cells, seen, seen_adj = [], [], []
        for r in rs:
            v = rounds[r].get(q)
            if v is None and q in tainted.get(r, set()):
                cells.append("✗")
                continue
            cells.append(f"{v:.2f}" if v is not None else "—")
            if v is not None:
                seen.append(v)
                seen_adj.append((adj(r, q, v), bool(cell_calib[r].get(q))))
        ratio = f"{seen[-1] / seen[0]:.2f}x" if len(seen) > 1 and seen[0] > 0 else "—"
        if len(seen_adj) > 1 and seen_adj[0][0] > 0:
            mark = "" if (seen_adj[0][1] and seen_adj[-1][1]) else "~"
            aratio = f"{seen_adj[-1][0] / seen_adj[0][0]:.2f}x{mark}"
        else:
            aratio = "—"
        lines.append(f"| {q} | " + " | ".join(cells) + f" | {ratio} | {aratio} |")
    if any(calib.get(r) for r in rs):
        lines.append("| _calib_ms (single-core probe — compare query times "
                     "only across rounds with similar calib)_ | " + " | ".join(
            f"{calib[r]:.0f}" if calib.get(r) else "—" for r in rs) + " | | |")
    totals = ["| **total (common set)** | " + " | ".join(
        f"{sum(rounds[r][q] for q in queries if all(q in rounds[x] for x in rs)):.1f}"
        for r in rs) + " | | |"]
    lines += totals + ["", END]
    block = "\n".join(lines)

    baseline = os.path.join(root, "BASELINE.md")
    with open(baseline) as f:
        text = f.read()
    if START in text and END in text:
        pre = text[: text.index(START)]
        post = text[text.index(END) + len(END):]
        text = pre + block + post
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    with open(baseline, "w") as f:
        f.write(text)
    print(f"wrote trend for {len(queries)} queries x rounds {rs} into BASELINE.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
