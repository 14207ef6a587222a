"""Output checks for the benchmark, run after the timed window.

- analytics_read: every query key's result is compared with DuckDB running
  the key's oracle SQL (`SparkEntry.oracleSql`) over the same generated
  parquet, as `scripts/check.py` compares; each lookup is compared with
  DuckDB's count and sum over the same range.
- hourly_etl: the generated batches are replayed in plain Python with the
  mart's soft-delete MERGE and the SCD2 expire-and-append rules, and the
  final mart, SCD2 history and materialized view, and every lookup,
  time-travel and change-feed read, are compared with the replay.

Each check returns (failed operation ids, messages); id -1 marks a final
state that differs.
"""
import glob
import os
from datetime import datetime, timedelta, timezone
from decimal import Decimal

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _con(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _read_dir(d):
    files = glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    if not files:
        return None
    return pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)


def _naive_utc(df):
    """Timestamps as naive UTC: Spark writes them UTC-adjusted, DuckDB
    returns them naive; the instants are what is compared."""
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def compare_frames(spark_df, oracle_df):
    """None if equal under scripts/check.py's rules, else a reason."""
    s, o = _canon(_naive_utc(spark_df)), _canon(_naive_utc(oracle_df))
    if list(s.columns) != list(o.columns):
        return f"columns differ {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"row counts differ {len(s)} vs {len(o)}"
    for c in s.columns:
        sv, ov = s[c], o[c]
        ks, ko = sv.dtype.kind.replace("u", "i"), ov.dtype.kind.replace("u", "i")
        if ks != ko:
            return f"column {c}: dtype kind {sv.dtype} vs {ov.dtype}"
        a, b = sv.to_numpy(), ov.to_numpy()
        if ks == "M":  # compare instants at microsecond resolution
            a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
        eq = (a == b) | (sv.isna().to_numpy() & ov.isna().to_numpy())
        if not eq.all():
            i = int(eq.argmin())
            return f"column {c} row {i}: {sv.iloc[i]!r} vs {ov.iloc[i]!r}"
    return None


def check_queries(result, data_dir, out_dirs):
    """Compare each key's dumped output with its DuckDB oracle."""
    con = _con(data_dir)
    msgs, bad_keys = [], set()
    for key, sql in sorted(result.get("oracle_sql", {}).items()):
        df = _read_dir(out_dirs[key]) if key in out_dirs else None
        if df is None:
            continue  # the key never completed; its failure is already counted
        try:
            why = compare_frames(df, con.execute(sql).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error {e}"
        if why:
            bad_keys.add(key)
            msgs.append(f"{key}: {why}")
    failed = [o[0] for o in result["ops"] if o[1].split(":", 1)[-1] in bad_keys]
    return failed, msgs


def check_lookups(result, data_dir):
    """Each lookup's row count and sum against DuckDB's, in one query."""
    looks = [(op, d) for op, d in result["digests"] if d.get("kind") == "lookup"]
    if not looks:
        return [], []
    con = _con(data_dir)
    ranges = ", ".join(f"({i}, {d['lo']}, {d['hi']})" for i, (_, d) in enumerate(looks))
    want = {i: (n, s) for i, n, s in con.execute(
        f"SELECT r.i, count(l.l_orderkey), coalesce(sum(l.l_extendedprice), 0) "
        f"FROM (VALUES {ranges}) r(i, lo, hi) "
        "LEFT JOIN lineitem l ON l.l_orderkey BETWEEN r.lo AND r.hi GROUP BY r.i").fetchall()}
    failed, msgs = [], []
    for i, (op, d) in enumerate(looks):
        n, s = want[i]
        if n != d["n"] or abs(s - d["sum"]) > 1e-6 * max(1.0, abs(s)):
            failed.append(op)
            msgs.append(f"lookup [{d['lo']}, {d['hi']}]: spark ({d['n']}, {d['sum']}) "
                        f"vs duckdb ({n}, {s})")
    return failed, msgs


def check_analytics(result, data_dir, work):
    qdirs = {os.path.basename(p): p for p in glob.glob(os.path.join(work, "check", "q", "*"))}
    f1, m1 = check_queries(result, data_dir, qdirs)
    f2, m2 = check_lookups(result, data_dir)
    return f1 + f2, m1 + m2


# ---------------------------------------------------------------- hourly_etl

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
BASE = datetime(2026, 1, 1, tzinfo=timezone.utc)
EOT = datetime(9999, 12, 31, 23, 59, 59, tzinfo=timezone.utc)


def _us(t):
    """Microseconds since epoch of a datetime."""
    return (t - EPOCH) // timedelta(microseconds=1)


def _us_col(col):
    """A timestamp column as microseconds since epoch, None for nulls."""
    if isinstance(col.dtype, pd.DatetimeTZDtype):
        col = col.dt.tz_convert("UTC").dt.tz_localize(None)
    us = col.to_numpy(dtype="datetime64[us]").astype("int64").tolist()
    return [None if null else v for v, null in zip(us, col.isna().tolist())]


def _run_ts(h):
    return _us(BASE + timedelta(hours=h))


def _batch(path):
    df = pd.read_parquet(path)
    return list(zip(df["id"].tolist(), df["last_status"].tolist(), df["o_custkey"].tolist(),
                    [Decimal(str(round(x, 2))).quantize(Decimal("0.01"))
                     for x in df["o_totalprice"].tolist()],
                    _us_col(df["created_at"])))


class Replay:
    """Plain-Python model of the mart, the SCD2 dimension and the view."""

    def __init__(self, seed_path, terminal):
        self.terminal = terminal
        self.mart = {}
        self.scd = []
        self.cur = {}
        t0 = _run_ts(0)
        for i, st, cust, price, created in _batch(seed_path):
            self.mart[i] = (st, cust, price, created if created is not None else t0, t0,
                            t0 if st == terminal else None)
            self.cur[i] = len(self.scd)
            self.scd.append([i, st, t0, _us(EOT), True])
        self.status_counts = {0: self.counts()}

    def counts(self):
        c = {}
        for v in self.mart.values():
            c[v[0]] = c.get(v[0], 0) + 1
        return c

    def apply(self, h, path):
        t = _run_ts(h)
        changes = {"insert": 0, "update_preimage": 0, "update_postimage": 0}
        for i, st, cust, price, created in _batch(path):
            old = self.mart.get(i)
            deleted = ((old[5] if old and old[5] is not None else t)
                       if st == self.terminal else None)
            self.mart[i] = (st, cust, price, created if created is not None else t, t, deleted)
            if old is None:
                changes["insert"] += 1
            else:
                changes["update_preimage"] += 1
                changes["update_postimage"] += 1
            if i in self.cur:
                self.scd[self.cur[i]][3] = t
                self.scd[self.cur[i]][4] = False
            self.cur[i] = len(self.scd)
            self.scd.append([i, st, t, _us(EOT), True])
        self.status_counts[h] = self.counts()
        return changes


def check_hourly(result, data_dir, work):
    import json
    with open(os.path.join(data_dir, "hourly.json")) as f:
        meta = json.load(f)
    rep = Replay(os.path.join(data_dir, "mart_seed.parquet"), meta["terminal"])
    by_hour = {}
    for op, d in result["digests"]:
        by_hour.setdefault(d["hour"], []).append((op, d))
    failed, msgs = [], []

    def expect(op, ok, what):
        if not ok:
            failed.append(op)
            msgs.append(what)

    applied = set(result["applied_hours"])
    for h in range(1, result["hours_run"] + 1):
        if h not in applied:
            msgs.append(f"hour {h} did not fully apply; later state is not comparable")
            return failed or [-1], msgs
        changes = rep.apply(h, os.path.join(data_dir, "hours", f"h{h:04d}.parquet"))
        for op, d in by_hour.get(h, []):
            got = {r[0]: int(r[1]) for r in d["rows"]} if d["kind"] != "lookup" else None
            if d["kind"] == "lookup":
                row = rep.mart.get(d["key"])
                want = [] if row is None else [[float(d["key"]), row[0], row[5] is None]]
                expect(op, d["rows"] == want, f"lookup {d['key']} at hour {h}: {d['rows']} vs {want}")
            elif d["kind"] == "changes":
                want = {k: v for k, v in changes.items() if v}
                expect(op, got == want, f"changes at hour {h}: {got} vs {want}")
    for op, d in result["digests"]:
        if d["kind"] == "time_travel":
            got = {r[0]: int(r[1]) for r in d["rows"]}
            want = rep.status_counts.get(d["hour"])
            expect(op, got == want, f"time travel to hour {d['hour']}: {got} vs {want}")

    mart = _read_dir(os.path.join(work, "check", "mart"))
    want = rep.mart
    got = dict(zip(mart["id"].tolist(), zip(
        mart["last_status"].tolist(), mart["o_custkey"].tolist(), mart["o_totalprice"].tolist(),
        _us_col(mart["created_at"]), _us_col(mart["updated_at"]), _us_col(mart["deleted_at"]))))
    if len(mart) != len(want) or got != want:
        diff = [k for k in want if got.get(k) != want[k]][:3]
        failed.append(-1)
        msgs.append(f"final mart differs ({len(mart)} vs {len(want)} rows), e.g. "
                    + "; ".join(f"{k}: {got.get(k)} vs {want[k]}" for k in diff))
    scd = _read_dir(os.path.join(work, "check", "scd"))
    got = sorted(zip(scd["id"].tolist(), scd["last_status"].tolist(), _us_col(scd["valid_from"]),
                     _us_col(scd["valid_to"]), scd["is_current"].tolist()))
    if got != sorted(tuple(r) for r in rep.scd):
        failed.append(-1)
        msgs.append(f"final SCD2 history differs ({len(got)} vs {len(rep.scd)} rows)")
    mv = _read_dir(os.path.join(work, "check", "mv"))
    got = {r.last_status: (int(r.n_rows), Decimal(r.value_sum)) for r in mv.itertuples()}
    agg = {}
    for st, _, price, *_ in rep.mart.values():
        n, s = agg.get(st, (0, Decimal(0)))
        agg[st] = (n + 1, s + price)
    if got != agg:
        failed.append(-1)
        msgs.append(f"materialized view differs: {got} vs {agg}")
    return failed, msgs
