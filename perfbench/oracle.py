"""DuckDB answers for the benchmark's output checks.

    python3 perfbench/oracle.py <data_dir> <out_dir> <oracle_sql.json> <key>...

For every key this writes `<out_dir>/<key>.json`: the answer of the
registry's oracle SQL (`oracle_sql.json`, dumped from the engine's
`SparkEntry.oracleSql`) run in DuckDB over `<data_dir>/<table>.parquet`, or,
for a key without oracle SQL, the exact answer its property check in
`Check.scala` compares against (`PROPERTY_SQL` below). Answers are made anew
from the inputs and cached under `<out_dir>/../answers` by the SHA-256 of the
SQL text and of the input files, so a second run on the same inputs reuses
them. Nothing here ever reads a saved copy of Spark's output.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Exact answers for the keys whose output is approximate or not expressible
# in SQL; Check.property states what is checked against each.
PROPERTY_SQL = {
    "agg_approx_distinct": """
        SELECT event_type, count(DISTINCT user_id) AS exact_users
        FROM events GROUP BY event_type ORDER BY event_type""",
    "udaf_countmin": """
        SELECT e.event_type, e.user_id, count(*) AS exact_n, any_value(t.n) AS n_events
        FROM events e JOIN (SELECT event_type, count(*) AS n FROM events
                            GROUP BY event_type) t USING (event_type)
        WHERE e.user_id < 5
        GROUP BY e.event_type, e.user_id ORDER BY e.event_type, e.user_id""",
    "scan_parquet_metadata": """
        SELECT sum(num_rows) AS footer_rows
        FROM parquet_file_metadata('{data}/lineitem.parquet')""",
    "dedup_minhash": "SELECT count(*) AS docs FROM documents",
    "dedup_simhash": "SELECT count(*) AS docs FROM documents",
    "dedup_pipeline": "SELECT count(*) AS docs FROM documents",
    "ml_dbscan_grid": "SELECT count(*) AS customers FROM customer",
}

EPOCH = dt.datetime(1970, 1, 1)


def encode(v):
    """A DuckDB value as the JSON value Check.same compares against."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else str(v).replace("inf", "Infinity").replace("nan", "NaN")
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds
    if isinstance(v, dt.date):
        return (v - EPOCH.date()).days
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [encode(x) for x in v]
    if isinstance(v, dict):
        return [encode(x) for x in v.values()]
    return str(v)


def checksum(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def answer(con, sql):
    rel = con.sql(sql)
    return {"columns": list(rel.columns), "types": [str(t) for t in rel.types],
            "rows": [[encode(v) for v in r] for r in rel.fetchall()]}


def make(data_dir, out_dir, oracle_sql, keys):
    """Writes `<out_dir>/<key>.json` for every key; returns the keys that
    have neither oracle SQL nor a property query."""
    os.makedirs(out_dir, exist_ok=True)
    cache = os.path.join(os.path.dirname(os.path.abspath(out_dir)), "answers")
    os.makedirs(cache, exist_ok=True)
    inputs = checksum(data_dir)
    con = None
    unchecked = []
    for key in keys:
        if key in PROPERTY_SQL:
            kind, sql = "property", PROPERTY_SQL[key].format(data=data_dir)
        elif key in oracle_sql:
            kind, sql = "oracle", oracle_sql[key]
        else:
            unchecked.append(key)
            continue
        digest = hashlib.sha256((sql + "\0" + inputs).encode()).hexdigest()
        cached = os.path.join(cache, f"{digest}.json")
        if not os.path.exists(cached):
            if con is None:
                con = duckdb.connect()
                con.sql("SET TimeZone = 'UTC'")
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data_dir}/{t}.parquet')")
            body = answer(con, sql)
            tmp = cached + ".tmp"
            with open(tmp, "w") as f:
                json.dump(body, f)
            os.replace(tmp, cached)
        with open(cached) as f:
            body = json.load(f)
        body.update(key=key, kind=kind)
        with open(os.path.join(out_dir, f"{key}.json"), "w") as f:
            json.dump(body, f)
    return unchecked


if __name__ == "__main__":
    with open(sys.argv[3]) as f:
        sqls = json.load(f)
    missing = make(sys.argv[1], sys.argv[2], sqls, sys.argv[4:])
    if missing:
        sys.exit(f"no oracle SQL or property check for: {' '.join(missing)}")
