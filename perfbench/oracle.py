"""The output check: each query's Spark output against its DuckDB oracle
SQL over the same parquet tables, compared in the canon of the repo's
tools/localcheck.py (columns sorted by name, decimals as floats, floats by
repr, rows sorted), imported from there so both checks share one canon.
Oracle answers are computed once per dataset and cached as digests."""

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))

from localcheck import TABLES, canon  # noqa: E402,F401


def digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def dataset_fingerprint(data_dir):
    """Content hash of the tables the workloads read."""
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        h.update(t.encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()[:16]


def canon_fingerprint():
    """Hash of the canon's source, so cached digests follow a change to it."""
    import inspect
    return hashlib.sha256(inspect.getsource(canon).encode()).hexdigest()[:12]


def _sql_key(name, sql):
    return name + ":" + hashlib.sha256(sql.encode()).hexdigest()[:12]


def oracle_digests(data_dir, sqls, cache_dir):
    """{name: digest} of each oracle SQL's answer, from the cache when this
    dataset and SQL text were answered before, else computed in DuckDB."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"oracle-{dataset_fingerprint(data_dir)}-{canon_fingerprint()}.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    missing = {n: s for n, s in sqls.items() if _sql_key(n, s) not in cache}
    if missing:
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name, sql in sorted(missing.items()):
            cache[_sql_key(name, sql)] = digest(canon(con.sql(sql).df()))
        con.close()
        tmp = path + f".{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=0, sort_keys=True)
        os.replace(tmp, path)
    return {n: cache[_sql_key(n, s)] for n, s in sqls.items()}


def spark_digest(dump_dir):
    import pandas as pd
    return digest(canon(pd.read_parquet(dump_dir)))


def check(expected, got):
    """'' when the two digests agree, else a one-line reason."""
    if expected == got:
        return ""
    return f"spark {got['rows']} rows vs oracle {expected['rows']} rows" + (
        ", values differ" if expected["rows"] == got["rows"] else "")
