#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate:
   run after `sbt "runMain graft.Verify <sfDir> <outDir>"`.
   Compares each <outDir>/<name> parquet against DuckDB running
   oracle_sql.json on the same sfDir tables.
"""
import json, sys, glob, os, time
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"


def first_diff(a, b):
    for c in a.columns:
        neq = a[c].astype(str) != b[c].astype(str)
        if neq.any():
            i = neq.idxmax()
            return f"col={c} row={i}: {a[c][i]!r} vs {b[c][i]!r}"
    return "?"


con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

# provenance cross-check (r7 verdict #7): a full (non-subset) dump
# must carry one oracle per registered query; a mismatch means the
# dump is stale or partial and every downstream number is suspect
meta_path = f"{out_dir}/verify_meta.json"
if os.path.exists(meta_path):
    meta = json.load(open(meta_path))
    if not meta.get("subset") and len(oracle) != meta.get("oracle_count"):
        sys.exit(f"FATAL: oracle_sql.json has {len(oracle)} entries but the "
                 f"dump recorded {meta.get('oracle_count')} — stale outDir?")
    if not meta.get("subset") and meta.get("registry_count", 0) < len(oracle):
        sys.exit(f"FATAL: registry had {meta.get('registry_count')} queries "
                 f"but {len(oracle)} oracles exist — registry/oracle drift")

# Minimum-row floors (r12 verdict what's-wrong #1, the survival-curve
# discipline): rows whose non-vacuity is load-bearing evidence must
# never silently thin out — a passing hash over 0-1 rows proves the
# plumbing, not the operator. Floors hold at BOTH gate SFs by
# construction (plants / arrival splits are corpus-size-proportional
# or fixed-count seeded).
ROW_FLOORS = {
    "text_minhash_decontaminate": 5,   # >= 5 of the 10 seeded plants
    "stream_hnsw_ingest": 20,          # the full arrival split left-joins in
    "q_survival_curve": 2,             # the r10 lesson (was 1 row); the
                                       # sf0.001 corpus supports 2 steps,
                                       # sf0.01 runs 10
}

fails, passes = [], []
replay_s = {}  # per-row DuckDB oracle replay wall time
for name in sorted(oracle):
    sql = oracle[name]
    pdir = f"{out_dir}/{name}"
    if not os.path.isdir(pdir):
        fails.append((name, "no spark output")); continue
    files = glob.glob(f"{pdir}/*.parquet")
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    t0 = time.perf_counter()
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        fails.append((name, f"oracle sql error: {e}")); continue
    finally:
        replay_s[name] = time.perf_counter() - t0
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        fails.append((name, f"columns differ: {list(got.columns)} vs {list(exp.columns)}")); continue
    if got.dtypes.tolist() != exp.dtypes.tolist():
        fails.append((name, "dtypes differ: " +
                      str([(c, str(a), str(b)) for c, a, b in
                           zip(got.columns, got.dtypes, exp.dtypes) if a != b])))
        continue
    if len(got) != len(exp):
        fails.append((name, f"row count {len(got)} vs {len(exp)}")); continue
    if len(got) < ROW_FLOORS.get(name, 0):
        fails.append((name, f"row floor: {len(got)} rows < "
                      f"{ROW_FLOORS[name]} required for non-vacuity"))
        continue
    gs = got.sort_values(list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(gs, es, check_exact=True)
        passes.append(name)
    except AssertionError as e:
        fails.append((name, str(e).split("\n")[0] +
                      " (first diff: " + first_diff(gs, es) + ")"))

slowest = sorted(replay_s.items(), key=lambda kv: -kv[1])[:10]
print(f"oracle replay: {sum(replay_s.values()):.1f} s over {len(replay_s)} rows; "
      "slowest: " + ", ".join(f"{n} {s:.1f} s" for n, s in slowest),
      file=sys.stderr)
print(f"PASS {len(passes)}: {' '.join(passes)}")
for n, msg in fails:
    print(f"FAIL {n}: {msg[:500]}")
sys.exit(1 if fails else 0)
