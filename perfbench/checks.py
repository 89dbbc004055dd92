"""Output checks, run after the timed window. A failing op is marked with
`check_failed` in the run record; the returned list says what went wrong."""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    """The oracle gate's normalisation (tools/check.py): columns by name,
    datetimes as microsecond strings, nested values as strings, rows
    sorted by value."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.floor("us").astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: v.tolist() if hasattr(v, "tolist") else v).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def fingerprint(df):
    """Order-insensitive fingerprint of a result: hash of its normalised form."""
    n = normalize(df)
    return hashlib.sha256(("|".join(n.columns) + "\n" + n.to_csv(index=False))
                          .encode()).hexdigest()


def oracle(con, sql, data_dir, cache_dir):
    """(rows, fingerprint) of the oracle SQL's answer. The answer depends
    only on the SQL and the read-only tables, so it is kept in `cache_dir`
    across runs of one checkout; the engine side is checked every time."""
    key = hashlib.sha256((os.path.basename(data_dir) + "\n" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    e = con.sql(sql).df()
    out = (len(e), fingerprint(e))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def queries(rec, data_dir, cache_dir):
    """Compare every query op's written result with the DuckDB oracle at the
    same scale: row count and fingerprint. Also fills in the op's result
    rows and bytes."""
    con = duckdb.connect()
    con.execute("SET threads TO %d" % max(1, min(4, len(os.sched_getaffinity(0)))))
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, data_dir, t))
    results = rec["info"]["results"]
    expected = {}
    problems = []
    for o in rec["ops"]:
        out = os.path.join(results, str(o["idx"]))
        files = glob.glob(os.path.join(out, "*.parquet"))
        o["bytes_written"] = sum(os.path.getsize(f) for f in files)
        if not o["ok"]:
            problems.append("%s threw: %s" % (o["name"], o["error"]))
            continue
        actual = pd.read_parquet(out)
        o["rows"] = len(actual)
        sql = rec["info"].get("oracle:" + o["name"])
        if sql is None:
            continue            # not SQL-expressible: no oracle entry
        if o["name"] not in expected:
            expected[o["name"]] = oracle(con, sql, data_dir, cache_dir)
        n, fp = expected[o["name"]]
        if len(actual) != n:
            problems.append("%s: rows %d != oracle %d" % (o["name"], len(actual), n))
            o["check_failed"] = True
        elif fingerprint(actual) != fp:
            problems.append("%s: fingerprint differs from oracle" % o["name"])
            o["check_failed"] = True
    con.close()
    return problems


def snapshot_rows(path):
    """(id, updated_ms, properties, archived) for every row of the
    year-partitioned snapshot at `path`."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    rows = con.execute(
        "SELECT id, epoch_ms(updatedAt), properties, archived "
        "FROM read_parquet('%s/c_year=*/*.parquet')" % path).fetchall()
    con.close()
    return rows


def sync(rec, model, batches):
    """Replay the batches the run merged through the model and compare the
    final snapshot with it: row count and each id's cursor, payload and
    archived flag."""
    done = rec["ops"]
    if any(not o["ok"] for o in done):
        bad = [o for o in done if not o["ok"]]
        return ["%s threw: %s" % (o["name"], o["error"]) for o in bad]
    for name, rows in batches[:int(rec["info"]["warm_batches"]) + len(done)]:
        model.apply(rows)
    problems = model.diff(snapshot_rows(rec["info"]["snapshot"]))
    if problems:
        # the snapshot is the output of every op: none can be trusted
        for o in done:
            o["check_failed"] = True
    return problems
