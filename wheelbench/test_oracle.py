"""Tests of the DuckDB checker: answers it computes itself pass, and one
perturbed answer fails exactly the operations that returned it.

    python3 wheelbench/test_oracle.py
"""
import copy
import math
import os
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import oracle  # noqa: E402

LO, HI = 1704326400, 1704931200  # 2024-01-04 .. 2024-01-11


def recorded(base):
    """One record per family with the answer the program should give."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM read_parquet(?)", [base])
    recs = []
    for fam in ["count", "keyed_sum", "minmax", "prune_empty", "group_hour",
                "window_2d_1d", "group_type", "topk_users", "distinct_users",
                "stddev", "p90"]:
        rec = {"table": "events", "fam": fam, "lo": LO, "hi": HI, "resid": False,
               "k": 0, "n": 3}
        w = oracle.where(rec)
        if fam in oracle.EXACT:
            rows = [list(r) for r in con.execute(oracle.EXACT[fam].format(w=w)).fetchall()]
        elif fam == "distinct_users":
            exact = con.execute(f"SELECT count(DISTINCT user_id) FROM t WHERE {w}").fetchone()[0]
            rows = [[round(exact * 1.02)]]  # a 2% sketch error is within bounds
        elif fam == "stddev":
            rows = [[con.execute(f"SELECT stddev_samp(value) FROM t WHERE {w}").fetchone()[0]]]
        else:
            n = con.execute(f"SELECT count(*) FROM t WHERE {w}").fetchone()[0]
            r = max(1, min(n, math.ceil(0.9 * n)))
            v = con.execute(f"SELECT value FROM t WHERE {w} ORDER BY value LIMIT 1 "
                            f"OFFSET {r - 1}").fetchone()[0]
            rows = [[v * (1 - 2 ** -9)]]  # a bucket edge just below the true value
        rec["rows"] = rows
        recs.append(rec)
    return recs


def check_one_perturbed(base, recs, fam, perturb):
    bad = copy.deepcopy(recs)
    rec = next(r for r in bad if r["fam"] == fam)
    perturb(rec["rows"])
    _, failed, msgs = oracle.check(bad, base, [])
    assert failed == rec["n"], (fam, failed, msgs)


def test_checker():
    with tempfile.TemporaryDirectory() as d:
        base = datagen.base(os.path.join(d, "events.parquet"), rows=20_000)
        recs = recorded(base)
        n, failed, msgs = oracle.check(recs, base, [])
        assert n == len(recs) and failed == 0, msgs

        def bump(rows):
            rows[0][0] += 1
        check_one_perturbed(base, recs, "count", bump)

        def swap_first_two(rows):
            rows[0], rows[1] = rows[1], rows[0]
        check_one_perturbed(base, recs, "topk_users", swap_first_two)

        def far(rows):
            rows[0][0] = round(rows[0][0] * 1.2)
        check_one_perturbed(base, recs, "distinct_users", far)

        def above(rows):
            rows[0][0] = rows[0][0] * 1.01
        check_one_perturbed(base, recs, "p90", above)

        def drop_bucket(rows):
            rows.pop()
        check_one_perturbed(base, recs, "group_hour", drop_bucket)


if __name__ == "__main__":
    test_checker()
    print("checker tests passed")
