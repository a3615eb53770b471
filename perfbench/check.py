"""Untimed output checks, run after every timed run.

`check_warehouse` compares one warehouse root the loader wrote against the
generator's ledger; `check_queries` compares the analytics results against
the recorded expectations. Each returns a list of mismatch descriptions;
every mismatch counts as one failed operation.

The warehouse is read with DuckDB, not with the program under test.
"""

import json
import os

import duckdb

NAMESPACE = "bench"
PRIMARY = ["tracks", "identities"]


def _parquet_files(d):
    out = []
    for root, dirs, names in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return sorted(out)


def _query(con, files, select):
    """Runs `SELECT <select>` over the given parquet files."""
    return con.execute("SELECT %s FROM read_parquet(?, union_by_name = true)" % select, [files]).fetchall()


def table_rows(root):
    """Row count of every table under the warehouse namespace."""
    base = os.path.join(root, NAMESPACE)
    con = duckdb.connect()
    out = {}
    for t in sorted(os.listdir(base)) if os.path.isdir(base) else []:
        files = _parquet_files(os.path.join(base, t))
        out[t] = _query(con, files, "count(*)")[0][0] if files else 0
    return out


def check_warehouse(root, ledger, rows_read):
    """Mismatches between the warehouse at `root` and `ledger`.

    `rows_read` is the number of input rows the streaming source reports it
    read."""
    bad = []
    base = os.path.join(root, NAMESPACE)
    rows = table_rows(root)
    con = duckdb.connect()

    expected = dict(ledger["tables"])
    expected["misfits"] = ledger["misfits"]
    for t in sorted(set(expected) | set(rows)):
        got, want = rows.get(t), expected.get(t)
        if got != want:
            bad.append("%s: %s rows, ledger says %s" % (t, got, want))

    users = os.path.join(base, "users")
    if os.path.isdir(users):
        got = dict(_query(con, _parquet_files(users), "user_id, message_id"))
        if got != ledger["users"]:
            diff = sum(1 for u in set(got) | set(ledger["users"]) if got.get(u) != ledger["users"].get(u))
            bad.append("users: %d last-write-wins winners differ from the ledger" % diff)

    # exactly one row per distinct messageId
    written = sum(rows.get(t, 0) for t in PRIMARY)
    for t in PRIMARY:
        files = _parquet_files(os.path.join(base, t))
        if files:
            n, d = _query(con, files, "count(*), count(DISTINCT message_id)")[0]
            if n != d:
                bad.append("%s: %d rows but %d distinct messageIds" % (t, n, d))
    if written != ledger["distinct_message_ids"]:
        bad.append("stream: %d rows written, ledger has %d distinct messageIds"
                   % (written, ledger["distinct_message_ids"]))
    dups = ledger["redelivered"]
    if rows_read != written + ledger["corrupt"] + ledger["unknown_type"] + dups:
        bad.append("balance: read %d != written %d + corrupt %d + unknown-type %d + duplicates %d"
                   % (rows_read, written, ledger["corrupt"], ledger["unknown_type"], dups))
    return bad


def check_queries(expected, got):
    """Mismatches of one pass over the analytics queries: each query's row
    count and order-independent result hash."""
    return ["%s: %s, expected %s" % (q, got.get(q), want)
            for q, want in sorted(expected.items()) if got.get(q) != want]


def load_json(path):
    with open(path) as fh:
        return json.load(fh)
