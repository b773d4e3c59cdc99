"""Output checks against the repo's own oracles, on the seeded tables.

  daily_batch  q104's DuckDB SQL over the seeded ``orders``; the warehouse
               fact table holds one row per surviving offer; the drained
               CVs against q105's DuckDB SQL over the seeded ``customer``
  pairs        matching: q50's DuckDB SQL over ``part``/``customer``/
               ``orders``/``lineitem``; near-dedup: an independent
               union-find over the pair set DuckDB enumerates from q53's
               own pair CTE (the ``scripts/cc_check.py`` method)

The comparison itself is ``scripts/check.py``'s (columns by name, rows
sorted, floats to 1e-9 relative). Expected frames depend only on the
inputs, so they are cached next to them.
"""
import importlib.util
import os

import duckdb
import pandas as pd

# check name -> the registered query whose oracle it replays
ORACLE = {
    "daily_batch": "q104_pipeline_composite",
    "match": "q50_matching_scores",
    "neardup": "q53_neardedup_survivors",
    "cv_stream": "q105_cv_ingest_stream",
}
CHECKS = {"daily_batch": ["daily_batch", "cv_stream"], "pairs": ["match", "neardup"]}


def _script(repo, name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(repo, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _connect(base, tables):
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")
    return con


def expected(repo, inputs, name, tables, oracles):
    """Check `name`'s oracle answer for these inputs, computed once and cached."""
    path = os.path.join(inputs, f"expected-{name}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    con = _connect(os.path.join(inputs, "base"), tables)
    sql = oracles[ORACLE[name]]
    if name == "neardup":
        cc = _script(repo, "cc_check")
        comp = cc.components(con.execute(cc.pairs_sql(sql)).fetchall())
        losers = {i for i, c in comp.items() if i != c}
        ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
        exp = pd.DataFrame({"doc_id": sorted(i for i in ids if i not in losers)})
    else:
        exp = con.execute(sql).fetchdf()
    con.close()
    exp.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return exp


def _got(check_dir, name):
    return pd.read_parquet(os.path.join(check_dir, name))


def check(repo, inputs, workload, tables, oracles, check_dir):
    """Return a list of (check name, verdict) pairs; verdict "OK" passes."""
    compare = _script(repo, "check").compare
    verdicts = []
    for name in CHECKS[workload]:
        exp = expected(repo, inputs, name, tables, oracles)
        verdicts.append((name, compare(name, _got(check_dir, name), exp)))
        if name == "daily_batch":
            with open(os.path.join(check_dir, "warehouse_facts.txt")) as f:
                facts = int(f.read())
            verdicts.append(("warehouse", "OK" if facts == len(exp) else
                             f"ROWS Fact_OffresEmploi={facts} offers={len(exp)}"))
    return verdicts
