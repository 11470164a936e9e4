"""Independent checker: recomputes every answer the benchmark recorded with
DuckDB, from the same parquet files: for `events`, the base table plus the
batches landed before the answer was read; for `events_b`, the streamed
table, those batches alone.

Exact families must match value for value, floats included, and top-k
including the order of ties. `distinct_users` (HLL, p = 11) must fall within
four standard errors (4 x 1.04 / sqrt(2^11), about 9.2%) of the exact
distinct count, `p90` (HDR, s = 7) must be the nearest-rank 0.9-quantile's
bucket lower edge (at most the true value and within 2^-7 of it), and
`stddev` within 1e-9 relative of DuckDB's `stddev_samp`.

    python3 wheelbench/oracle.py <answers.jsonl> <base.parquet> [batch.parquet ...]
"""
import datetime
import json
import math
import sys

import duckdb

HLL_TOL = 4 * 1.04 / math.sqrt(2 ** 11)
HDR_TOL = 2.0 ** -7
RESIDUAL = "user_id % 7 = 3"
SUM_DEC = "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
EXACT = {
    "count": "SELECT count(*) FROM t WHERE {w}",
    "keyed_sum": "SELECT " + SUM_DEC + " FROM t WHERE {w} AND event_type = 'purchase'",
    "minmax": "SELECT min(value), max(value), count(*) FROM t WHERE {w}",
    "prune_empty": "SELECT event_id FROM t WHERE {w} AND value > 100000.0 ORDER BY 1",
    "group_hour": "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT), count(*), "
                  "min(value), max(value) FROM t WHERE {w} GROUP BY 1 ORDER BY 1",
    # window(ts, '2 days', '1 day'): each row falls in the windows starting
    # at its day and at the day before
    "window_2d_1d": "SELECT ws, count(*) FROM ("
                    "SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS ws FROM t WHERE {w} "
                    "UNION ALL SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) - 86400 "
                    "FROM t WHERE {w}) GROUP BY 1 ORDER BY 1",
    "group_type": "SELECT event_type, count(*), " + SUM_DEC + ", min(value), max(value) "
                  "FROM t WHERE {w} GROUP BY 1 ORDER BY 1",
    "topk_users": "SELECT user_id, count(*) AS cnt FROM t WHERE {w} "
                  "GROUP BY 1 ORDER BY cnt DESC, user_id LIMIT 5",
}


def ts(sec):
    return datetime.datetime.fromtimestamp(sec, datetime.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def where(rec):
    w = f"ts >= TIMESTAMP '{ts(rec['lo'])}' AND ts < TIMESTAMP '{ts(rec['hi'])}'"
    return w + (f" AND {RESIDUAL}" if rec["resid"] else "")


def same(a, b):
    """Exact equality of two answers (rows of cells)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if x is None or y is None:
                if not (x is None and y is None):
                    return False
            elif isinstance(x, str) or isinstance(y, str):
                if x != y:
                    return False
            elif float(x) != float(y):
                return False
    return True


def expected_ok(con, rec):
    """(ok, expected) for one recorded answer; con's table `t` holds the data."""
    fam, rows, w = rec["fam"], rec["rows"], where(rec)
    if fam in EXACT:
        exp = [list(r) for r in con.execute(EXACT[fam].format(w=w)).fetchall()]
        return same(rows, exp), exp
    if fam == "distinct_users":
        exact = con.execute(f"SELECT count(DISTINCT user_id) FROM t WHERE {w}").fetchone()[0]
        got = rows[0][0] if rows and rows[0] else None
        return got is not None and abs(got - exact) <= HLL_TOL * exact, exact
    if fam == "stddev":
        exp = con.execute(f"SELECT stddev_samp(value) FROM t WHERE {w}").fetchone()[0]
        got = rows[0][0] if rows and rows[0] else None
        if exp is None or got is None:
            return exp is None and got is None, exp
        return abs(got - exp) <= 1e-9 * abs(exp) + 1e-12, exp
    if fam == "p90":
        n = con.execute(f"SELECT count(*) FROM t WHERE {w}").fetchone()[0]
        got = rows[0][0] if rows and rows[0] else None
        if n == 0:
            return got is None, None
        r = max(1, min(n, math.ceil(0.9 * n)))  # nearest rank, as the sketch ranks
        exp = con.execute(f"SELECT value FROM t WHERE {w} ORDER BY value "
                          f"LIMIT 1 OFFSET {r - 1}").fetchone()[0]
        return got is not None and got <= exp and exp - got <= HDR_TOL * exp, exp
    raise ValueError(f"unknown family {fam}")


def check(records, base, batches):
    """Checks every record; returns (answers checked, failed operations,
    messages). A wrong answer fails every operation that returned it."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    failed, msgs, loaded = 0, [], None
    for rec in sorted(records, key=lambda r: (r["table"], r["k"])):
        k = rec["k"]
        if loaded != (rec["table"], k):
            files = ([] if rec["table"] == "events_b" else [base]) + list(batches[:k])
            con.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM read_parquet(?)", [files])
            loaded = (rec["table"], k)
        ok, exp = expected_ok(con, rec)
        if not ok:
            failed += rec["n"]
            if len(msgs) < 10:
                msgs.append(f"{rec['fam']} on {rec['table']} [{rec['lo']}, {rec['hi']}) "
                            f"resid={rec['resid']} k={k}: got {rec['rows']}, expected {exp}")
    con.close()
    return len(records), failed, msgs


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


if __name__ == "__main__":
    recs = load(sys.argv[1])
    n, bad, msgs = check(recs, sys.argv[2], sys.argv[3:])
    print("\n".join(msgs))
    print(f"{n} answers checked, {bad} failed operations")
    sys.exit(1 if bad else 0)
