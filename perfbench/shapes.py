"""Compare the shape of two sets of input tables: the generator's output
against the engine's sf0.1 test tables.

    python3 perfbench/shapes.py <reference_dir> <generated_dir>

For every table both directories hold, prints the parquet physical and
logical type of each column, the row count and per-column statistics
(min, max, distinct count, mean and median of numbers, and the share of
each value of a string column with at most 16 values), plus the join
shapes the queries depend on: keys of one table found in another, and the
fan-out of lineitem over orders. A line is marked `!` where the two sides
differ by more than the tolerance: types exactly, counts and statistics by
a relative 5 %, value shares by four binomial standard deviations. The
extremes of a floating-point column and the largest fan-out are shown but
not judged: they are single draws from the tail and move with the seed.
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
JOINS = [  # (child table, child column, parent table, parent column)
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
]
REL_TOL = 0.05


def physical(path):
    s = pq.ParquetFile(path).schema
    return {s.column(i).name: f"{s.column(i).physical_type} {s.column(i).logical_type}"
            for i in range(len(s))}


def profile(con, path, col, phys):
    q = f"'{path}'"
    stats = {}
    is_num = not phys.startswith("BYTE_ARRAY")
    n_distinct = con.execute(f'SELECT count(DISTINCT "{col}") FROM {q}').fetchone()[0]
    stats["distinct"] = n_distinct
    lo, hi = con.execute(f'SELECT min("{col}"), max("{col}") FROM {q}').fetchone()
    tag = " (shown)" if phys.startswith("DOUBLE") else ""  # tail draws
    stats["min" + tag], stats["max" + tag] = lo, hi
    if is_num and "Timestamp" not in phys:
        mean, p50 = con.execute(f'SELECT avg("{col}"), median("{col}") FROM {q}').fetchone()
        stats["mean"], stats["median"] = mean, p50
    if not is_num and n_distinct <= 16:
        total = con.execute(f"SELECT count(*) FROM {q}").fetchone()[0]
        for v, n in con.execute(f'SELECT "{col}", count(*) FROM {q} GROUP BY 1').fetchall():
            stats[f"share[{v}]"] = n / total
    return stats


def differs(a, b, key, rows=1):
    if a is None or b is None:
        return a != b
    if key.endswith("(shown)"):
        return False
    if key.startswith("share["):
        return abs(a - b) > 4 * (a * (1 - a) / rows) ** 0.5
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) > REL_TOL * max(abs(a), abs(b), 1e-9)
    return False  # timestamps and strings: shown, not judged


def show(label, a, b, bad):
    print(f"{'!' if bad else ' '} {label:<40} {str(a):<34} {b}")
    return bad


def main(ref, gen):
    con = duckdb.connect()
    n_bad = 0
    for t in TABLES:
        pr, pg = os.path.join(ref, f"{t}.parquet"), os.path.join(gen, f"{t}.parquet")
        if not (os.path.exists(pr) and os.path.exists(pg)):
            continue
        print(f"\n== {t}")
        rows = [con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0] for p in (pr, pg)]
        n_bad += show("rows", rows[0], rows[1], differs(rows[0], rows[1], "rows"))
        tr, tg = physical(pr), physical(pg)
        for c in tr:
            n_bad += show(f"{c} type", tr[c], tg.get(c), tr[c] != tg.get(c))
            if c not in tg:
                continue
            sr, sg = profile(con, pr, c, tr[c]), profile(con, pg, c, tg[c])
            for k in sorted(set(sr) | set(sg)):
                n_bad += show(f"{c} {k}", sr.get(k), sg.get(k),
                              differs(sr.get(k), sg.get(k), k, rows[0]))
        n_bad += sum(show(f"{c} type", None, tg[c], True) for c in tg if c not in tr)
    print("\n== joins")
    for child, cc, parent, pc in JOINS:
        vals = []
        for d in (ref, gen):
            vals.append(con.execute(
                f"SELECT avg(CASE WHEN p.{pc} IS NULL THEN 0 ELSE 1 END) "
                f"FROM '{d}/{child}.parquet' c LEFT JOIN "
                f"(SELECT DISTINCT {pc} FROM '{d}/{parent}.parquet') p ON c.{cc} = p.{pc}"
            ).fetchone()[0])
        n_bad += show(f"{child}.{cc} found in {parent}", vals[0], vals[1],
                      differs(vals[0], vals[1], "join"))
    for stat in ("avg", "stddev_pop"):
        vals = [con.execute(
            f"SELECT {stat}(n) FROM (SELECT o_orderkey, count(l_orderkey) n "
            f"FROM '{d}/orders.parquet' LEFT JOIN '{d}/lineitem.parquet' "
            f"ON l_orderkey = o_orderkey GROUP BY 1)").fetchone()[0] for d in (ref, gen)]
        n_bad += show(f"lines per order {stat}", vals[0], vals[1],
                      differs(vals[0], vals[1], "fanout"))
    big = [con.execute(
        f"SELECT max(n) FROM (SELECT l_orderkey, count(*) n FROM '{d}/lineitem.parquet' "
        "GROUP BY 1)").fetchone()[0] for d in (ref, gen)]
    show("lines per order max (shown)", big[0], big[1], False)
    print(f"\n{n_bad} difference(s) beyond tolerance")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
