"""Independent DuckDB replay of the `tables` op stream.

Replays the ops the JVM executed (`check/oplog.jsonl`, in order) over the
batch files in the input directory, with the table semantics written
out in SQL here rather than taken from graft:

* create / append / ingest insert their batch rows;
* merge upserts by `event_id`: per key the change row with the highest
  `seq` wins, `op = 'D'` removes the key; the change feed shows the whole
  old snapshot deleted and the whole new snapshot inserted;
* delete removes the listed keys; the feed shows the removed rows;
* compact changes no rows and emits no change rows;
* reads change nothing; point reads and counts are checked against the
  replayed snapshot at that moment.

Then compares the final snapshot, the change feed (`changes(0, v)`) and
the `pipeTo` mirror with the JVM's dumps. Each check that disagrees is
one failure.
"""
import glob
import json
import os

import pyarrow.parquet  # noqa: F401  (load before duckdb, as check_oracle.py does)
import duckdb

CHECKS = 4  # versions/reads, snapshot, change feed, mirror

COLS = "event_id, user_id, value"


def _rows(con, sql):
    return sorted(con.execute(sql).fetchall(), key=repr)


def check(data, check_dir):
    ops = json.load(open(os.path.join(data, "ops.json")))
    log = [json.loads(ln) for ln in open(os.path.join(check_dir, "oplog.jsonl")) if ln.strip()]
    con = duckdb.connect()
    con.execute("CREATE TABLE snap (event_id BIGINT, user_id BIGINT, value DOUBLE)")
    con.execute("CREATE TABLE cdc (event_id BIGINT, user_id BIGINT, value DOUBLE, "
                "_change VARCHAR, _version INTEGER)")
    bad = []
    version = 0
    mirror_upto = 0
    step_errors = []

    def feed(change, select):
        con.execute(f"INSERT INTO cdc SELECT {COLS}, '{change}', {version} FROM ({select})")

    for entry in log:
        op = ops[entry["index"]]
        kind = op["op"]
        f = os.path.join(data, "ops", op.get("file", ""))
        if kind in ("create", "append", "ingest"):
            src = (f"read_parquet('{f}')" if kind != "ingest"
                   else f"read_parquet('{os.path.join(data, 'ops', op['dir'])}/*.parquet')")
            version += 1
            feed("insert", f"SELECT {COLS} FROM {src}")
            con.execute(f"INSERT INTO snap SELECT {COLS} FROM {src}")
        elif kind == "merge":
            version += 1
            feed("delete", "SELECT * FROM snap")
            con.execute(f"""CREATE OR REPLACE TEMP TABLE w AS
                SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY event_id
                  ORDER BY seq DESC, op DESC) AS rn FROM read_parquet('{f}')) WHERE rn = 1""")
            con.execute(f"""CREATE OR REPLACE TABLE snap AS
                SELECT {COLS} FROM snap WHERE event_id NOT IN (SELECT event_id FROM w)
                UNION ALL SELECT {COLS} FROM w WHERE op <> 'D'""")
            feed("insert", "SELECT * FROM snap")
        elif kind == "delete":
            gone = (f"SELECT * FROM snap WHERE event_id IN "
                    f"(SELECT event_id FROM read_parquet('{f}'))")
            if con.execute(f"SELECT count(*) FROM ({gone})").fetchone()[0] > 0:
                version += 1
                feed("delete", gone)
                con.execute(f"DELETE FROM snap WHERE event_id IN "
                            f"(SELECT event_id FROM read_parquet('{f}'))")
        elif kind == "compact":
            version += 1
        elif kind in ("point_read", "meta_count"):
            where = f"WHERE event_id = {op['key']}" if kind == "point_read" else ""
            want = con.execute(f"SELECT count(*) FROM snap {where}").fetchone()[0]
            if entry["rows"] != want:
                step_errors.append(f"op {entry['index']} {kind} rows {entry['rows']} != {want}")
        elif kind == "mirror":
            mirror_upto = entry["mirror_upto"]
        if entry["version"] != version:
            step_errors.append(
                f"op {entry['index']} {kind}: version {entry['version']} != {version}")
    if step_errors:
        bad.append("; ".join(step_errors[:5]))

    def dump(name, cols):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            return None
        return _rows(con, f"SELECT {cols} FROM read_parquet({files!r})")

    got = dump("snapshot", COLS)
    if got != _rows(con, f"SELECT {COLS} FROM snap"):
        bad.append(f"final snapshot differs ({0 if got is None else len(got)} rows)")
    cdc_cols = f"{COLS}, _change, CAST(_version AS INTEGER)"
    got = dump("cdc", cdc_cols)
    if got != _rows(con, f"SELECT {cdc_cols} FROM cdc"):
        bad.append(f"change feed differs ({0 if got is None else len(got)} rows)")
    mirror_cols = f"{COLS}, CAST(_version AS INTEGER)"
    want = _rows(con, f"SELECT {mirror_cols} FROM cdc "
                      f"WHERE _change = 'insert' AND _version <= {mirror_upto}")
    got = dump("mirror", mirror_cols) or []
    if got != want:
        bad.append(f"mirror differs ({len(got)} rows vs {len(want)})")
    return bad
