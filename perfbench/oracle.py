"""Output checks run after the JVM exits.

`check`: each dumped registry query result (one parquet directory per
query) is compared with the query's `SparkEntry.oracleSql` run by DuckDB
over the same input tables: column names (sorted), row count, then every
cell in row order, floats exactly. Returns {query: problem}, "" = match.

`recall_at_10`: each logged ANN search against an exact cosine top-10 over
the index's contents at the time of the search.
"""
import json
import math
import os

import duckdb


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or isinstance(a, bool) != isinstance(b, bool):
            return False
        fa, fb = float(a), float(b)
        return fa == fb or (math.isnan(fa) and math.isnan(fb))
    return a == b


def check(verify_dir, data_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    oracle = json.load(open(os.path.join(verify_dir, "oracle_sql.json")))
    out = {}
    for name in sorted(d for d in os.listdir(verify_dir) if d in oracle):
        path, sql = os.path.join(verify_dir, name), oracle[name]
        try:
            got = con.sql(f"SELECT * FROM '{path}/*.parquet'")
            want = con.sql(sql)
            gcols, wcols = sorted(got.columns), sorted(want.columns)
            if [c.lower() for c in gcols] != [c.lower() for c in wcols]:
                out[name] = f"columns {gcols} vs oracle {wcols}"
                continue
            grows = [tuple(r[got.columns.index(c)] for c in gcols) for r in got.fetchall()]
            wrows = [tuple(r[want.columns.index(c)] for c in wcols) for r in want.fetchall()]
            if len(grows) != len(wrows):
                out[name] = f"{len(grows)} rows vs oracle {len(wrows)}"
                continue
            bad = next(((i, gcols[j], a, b) for i, (gr, wr) in enumerate(zip(grows, wrows))
                        for j, (a, b) in enumerate(zip(gr, wr)) if not _same(a, b)), None)
            out[name] = "" if bad is None else \
                f"row {bad[0]} column {bad[1]}: {bad[2]!r} vs oracle {bad[3]!r}"
        except Exception as e:  # an oracle that errors is a failed check
            out[name] = f"oracle error: {e}"
    return out


def recall_at_10(searches, data_dir):
    """searches: [kind, query id, [appended batches], [result ids]]. Returns
    (mean recall, {kind: mean recall})."""
    import numpy as np
    import pyarrow.parquet as pq

    def load(name):
        t = pq.read_table(os.path.join(data_dir, f"{name}.parquet"))
        v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        return t, v / np.linalg.norm(v, axis=1, keepdims=True)

    base_t, base = load("embeddings")
    app_t, app = load("appends")
    app_ids = app_t.column("vec_id").to_numpy()
    app_batch = app_t.column("batch").to_numpy()
    base_ids = base_t.column("vec_id").to_numpy()
    by_kind = {}
    for kind, qid, batches, got in searches:
        sel = np.isin(app_batch, batches)
        ids = np.concatenate([base_ids, app_ids[sel]])
        sims = np.concatenate([base, app[sel]]) @ base[int(np.searchsorted(base_ids, qid))]
        exact = set(ids[np.argsort(-sims, kind="stable")[:10]].tolist())
        by_kind.setdefault(kind, []).append(len(exact & set(got)) / 10)
    per = {k: sum(v) / len(v) for k, v in by_kind.items()}
    allv = [x for v in by_kind.values() for x in v]
    return (sum(allv) / len(allv) if allv else 0.0), per
