#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables, load the engine's Verify parquet dump,
sort columns by name + rows by all columns, and compare values exactly.

Usage: compare.py [sf_dir out_dir [--expect a,b,...] [--log verify.err]]

A query that throws in Verify leaves no output directory, so it would not
show up at all. `--expect` names the queries that must have output, and
`--log` is Verify's stderr: each expected name without output, and each
name with a `[verify] <name> failed: ...` line there, is reported BAD with
that line. Exits non-zero when anything is BAD."""
import sys, os, json, glob, re
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"


def flag(name):
    """The value after `name` on the command line, or None."""
    i = sys.argv.index(name) if name in sys.argv else -1
    return sys.argv[i + 1] if 0 < i < len(sys.argv) - 1 else None


expect = flag("--expect") or ""
verify_log = flag("--log")

con = duckdb.connect()
for f in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(f)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

# Rows-only queries whose EMPTY output is CORRECT at tiny scale factors —
# the bare emptiness heuristic below cannot tell correct-empty from
# broken-empty, so these are declared. (kc1 lived here rounds 9-12; its
# peel is fully oracle-checked since round 13.)
EXPECTED_EMPTY_OK = set()
results = {}
for name in sorted(os.listdir(out_dir)):
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        continue
    try:
        mine = pd.read_parquet(d)
    except Exception as e:
        results[name] = f"ENGINE-READ-FAIL: {e}"
        continue
    if name not in oracle:
        if len(mine) == 0:
            suffix = (" (expected-empty at tiny SF; anchored)"
                      if name in EXPECTED_EMPTY_OK else " EMPTY!")
        else:
            suffix = ""
        results[name] = f"rows-only: {len(mine)} rows{suffix}"
        continue
    try:
        ref = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        results[name] = f"ORACLE-FAIL: {str(e)[:200]}"
        continue
    a = mine.reindex(sorted(mine.columns), axis=1)
    b = ref.reindex(sorted(ref.columns), axis=1)
    if list(a.columns) != list(b.columns):
        results[name] = f"COLS-MISMATCH: mine={list(a.columns)} oracle={list(b.columns)}"
        continue
    if len(a) != len(b):
        results[name] = f"ROWS-MISMATCH: mine={len(a)} oracle={len(b)}"
        continue
    # NO array canonicalization here — the driver's gate sorts rows by all
    # columns and crashes on array cells ("unhashable type: numpy.ndarray").
    # A registered query must project arrays to scalars/strings itself;
    # if it doesn't, fail it here exactly like the driver would.
    try:
        a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
        b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    except Exception as e:
        results[name] = f"UNSORTABLE (driver would crash): {str(e)[:200]}"
        continue
    bad = []
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            if str(av.dtype).startswith("datetime") or str(bv.dtype).startswith("datetime"):
                # normalize both sides to a COMMON resolution AND tz form:
                # astype(int64) yields ticks in the column's own unit (a
                # ns vs us pair would flag equal values as diffs), and
                # pandas refuses tz-aware -> naive astype outright — so
                # read both sides as UTC instants, drop the tz, then
                # compare us ticks. Equal instants compare equal whether
                # either side arrived tz-aware or naive.
                def _us_ticks(s):
                    s = pd.to_datetime(s, utc=True).dt.tz_localize(None)
                    return s.astype("datetime64[us]").astype("int64")
                eq = _us_ticks(av) == _us_ticks(bv)
            else:
                eq = (av == bv) | (av.isna() & bv.isna())
        except Exception:
            eq = av.astype(str) == bv.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            bad.append(f"{c}[{i}]: {av[i]!r} vs {bv[i]!r} (dtype {av.dtype}/{bv.dtype}, {int((~eq).sum())} diffs)")
    results[name] = "OK" if not bad else "VALUES-MISMATCH: " + "; ".join(bad[:3])

failed = {}
if verify_log and os.path.exists(verify_log):
    with open(verify_log, errors="replace") as f:
        for line in f:
            m = re.search(r"\[verify\] (\S+) failed: .*", line)
            if m:
                failed[m.group(1)] = m.group(0).strip()
for name in [q for q in expect.split(",") if q] + sorted(failed):
    if name not in results:
        results[name] = "MISSING: " + failed.get(name, "no output (not a registered query?)")

n_ok = sum(1 for v in results.values() if v == "OK")
n_ro = sum(1 for v in results.values() if v.startswith("rows-only") and "EMPTY" not in v)
for k, v in results.items():
    flag = "  " if v == "OK" or v.startswith("rows-only") else "XX"
    print(f"{flag} {k}: {v}")
n_bad = len(results) - n_ok - n_ro
print(f"\n{n_ok} OK / {n_ro} rows-only / {n_bad} BAD of {len(results)}")
sys.exit(1 if n_bad else 0)
