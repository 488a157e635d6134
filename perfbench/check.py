"""Output checks. Every function returns a list of mismatch messages; an
empty list means the outputs are correct.

  wordcount_bulk    each job's parquet: total count, distinct words and a
                    seeded sample equal the generator's exact counts
  ann_build_serve   the first ann_ivf_topk serve equals the DuckDB oracle
                    (SparkEntry.oracleSql) on the generated vectors; the
                    oracle result is computed once per seed and kept. The
                    harness checks every later serve against the first.
"""
import hashlib
import json
import os

import pyarrow.parquet as pq


def wordcount(checks, expected):
    bad = []
    for c in checks:
        t = pq.read_table(c["out"]).to_pydict()
        got = dict(zip(t["key"], t["value"]))
        if len(got) != len(t["key"]):
            bad.append(f"{c['out']}: duplicate keys")
        if sum(got.values()) != expected["total"]:
            bad.append(f"{c['out']}: total {sum(got.values())} != {expected['total']}")
        if len(got) != expected["distinct"]:
            bad.append(f"{c['out']}: distinct {len(got)} != {expected['distinct']}")
        wrong = [w for w, n in expected["sample"].items() if got.get(w) != n]
        if wrong:
            bad.append(f"{c['out']}: {len(wrong)} sampled words differ, e.g. {wrong[0]}")
    return bad


def _oracle(data_dir, name, sql):
    """DuckDB result of `sql` over the generated corpus, cached per seed and
    per SQL text."""
    import duckdb
    digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
    cache = os.path.join(data_dir, f"oracle-{name}-{digest}.parquet")
    if os.path.exists(cache):
        return pq.read_table(cache).to_pandas()
    con = duckdb.connect()
    con.sql("CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, 'embeddings.parquet')}')")
    df = con.sql(sql).df()
    df.to_parquet(cache + ".tmp")
    os.replace(cache + ".tmp", cache)
    return df


def ann(checks, data_dir, oracle_sql_path):
    import pandas as pd
    with open(oracle_sql_path) as f:
        oracle = json.load(f)
    bad = []
    for c in checks:
        q = c["query"]
        got = pq.read_table(c["out"]).to_pandas()
        exp = _oracle(data_dir, q, oracle[q])
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            bad.append(f"{q}: shape {list(got.columns)}x{len(got)} != "
                       f"{list(exp.columns)}x{len(exp)}")
            continue
        gs = got.sort_values(list(got.columns)).reset_index(drop=True)
        es = exp.sort_values(list(exp.columns)).reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(gs, es, check_exact=True)
        except AssertionError as e:
            bad.append(f"{q}: {str(e).splitlines()[0]}")
    return bad
