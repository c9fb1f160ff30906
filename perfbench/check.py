"""Independent output checks. Each takes the generator's manifest and the
driver's output directory and returns a list of problems (empty = correct).

medallion_stream is checked against DuckDB over the generated inputs;
table_service against an in-memory model that replays the client script.
Neither reuses a result computed by the engine."""

import json
import os

import duckdb
import pyarrow.parquet as pq

def con_for(scratch):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(scratch, 'duckdb_tmp')}'")
    con.execute("SET threads=2")
    return con


def files(paths):
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def differs(con, name, got_sql, want_sql, cols, doubles=()):
    """Multiset difference of two relations over `cols`; the `doubles` are
    compared after rounding to 6 decimals."""
    sel = ", ".join(f"round({c}, 6) AS {c}" if c in doubles else c for c in cols)
    got = f"SELECT {sel} FROM ({got_sql})"
    want = f"SELECT {sel} FROM ({want_sql})"
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
    if extra or missing:
        return [f"{name}: {extra} unexpected rows, {missing} missing rows"]
    return []


SILVER_EVENTS = """
SELECT event_id, ts, user_id, lower(trim(event_type)) AS event_type, value, props, arrival_seq,
       CAST(ts AS DATE) AS event_date, hour(ts) AS event_hour,
       CASE WHEN lower(trim(event_type)) IN ('purchase', 'cart', 'checkout') THEN 'commerce'
            WHEN lower(trim(event_type)) IN ('click', 'view', 'scroll') THEN 'engagement'
            WHEN lower(trim(event_type)) = 'error' THEN 'system' ELSE 'other' END AS event_category,
       coalesce(value >= 100.0, false) AS is_high_value
FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY arrival_seq DESC) AS rn
      FROM read_parquet({events}))
WHERE rn = 1 AND user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
"""

GOLD_USER = """
SELECT event_date, user_id, count(*) AS total_events,
       count(DISTINCT event_type) AS distinct_event_types,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchase_events,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click_events,
       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view_events,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS error_events,
       CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS total_value,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS first_event_sec,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS last_event_sec,
       round((floor(epoch(max(ts))) - floor(epoch(min(ts)))) / 60.0, 4) AS session_duration_minutes,
       count(*) >= 5 AS is_power_user
FROM (SELECT CAST(ts AS DATE) AS event_date, * EXCLUDE (event_date) FROM ({silver}))
GROUP BY 1, 2
"""

SILVER_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props", "arrival_seq",
               "event_date", "event_hour", "event_category", "is_high_value"]
GOLD_COLS = ["event_date", "user_id", "total_events", "distinct_event_types", "purchase_events",
             "click_events", "view_events", "error_events", "total_value", "first_event_sec",
             "last_event_sec", "session_duration_minutes", "is_power_user"]
EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props", "arrival_seq"]
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
              "o_orderpriority", "arrival_seq"]
DIM_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
DOUBLES = {"value", "total_value", "session_duration_minutes", "o_totalprice", "c_acctbal"}


def out_table(out, name):
    return f"read_parquet('{os.path.join(out, name)}/*.parquet')"


def check_medallion(man, out, summary, scratch):
    landed = man["batches"][:summary["batches_landed"]]
    con = con_for(scratch)
    events = files([b["events"] for b in landed])
    orders = files([b["orders"] for b in landed])
    silver = SILVER_EVENTS.format(events=events)
    problems = []
    problems += differs(con, "bronze_events", f"SELECT * FROM {out_table(out, 'bronze_events')}",
                        f"SELECT * FROM read_parquet({events})", EVENT_COLS, DOUBLES)
    problems += differs(con, "bronze_orders", f"SELECT * FROM {out_table(out, 'bronze_orders')}",
                        f"SELECT * FROM read_parquet({orders})", ORDER_COLS, DOUBLES)
    problems += differs(con, "silver_events", f"SELECT * FROM {out_table(out, 'silver_events')}",
                        silver, SILVER_COLS, DOUBLES)
    problems += differs(con, "gold_user_activity",
                        f"SELECT * FROM {out_table(out, 'gold_user_activity')}",
                        GOLD_USER.format(silver=silver), GOLD_COLS, DOUBLES)
    dim = out_table(out, "dim_customer")
    multi = con.execute(f"SELECT count(*) FROM (SELECT c_custkey FROM {dim} WHERE is_current "
                        "GROUP BY 1 HAVING count(*) > 1)").fetchone()[0]
    if multi:
        problems.append(f"dim_customer: {multi} keys with more than one current row")
    changes = [b["customers"] for b in landed if "customers" in b]
    latest = f"SELECT *, 0 AS change_seq FROM read_parquet('{man['customer']}')"
    if changes:
        latest += f" UNION ALL BY NAME SELECT * FROM read_parquet({files(changes)})"
    want = (f"SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey "
            f"ORDER BY change_seq DESC) AS rn FROM ({latest})) WHERE rn = 1")
    problems += differs(con, "dim_customer current rows",
                        f"SELECT * FROM {dim} WHERE is_current", want, DIM_COLS, DOUBLES)
    return problems


class Model:
    """The keyed table as a dict, with per-version checksums and per-commit
    change lists, advanced by replaying the script."""

    def __init__(self, init_path, start_version, history_commits):
        t = pq.read_table(init_path).to_pydict()
        self.rows = {k: (p, s) for k, p, s in zip(t["o_orderkey"], t["o_totalprice"],
                                                     t["o_orderstatus"])}
        self.version = start_version
        self.sums = {0: (0, 0, 0, 0), start_version: self.checksum()}
        # the start version is the fixture load, or the last of the
        # metadata-only history commits made after it, which change no rows
        self.changes = {start_version: [] if history_commits else
                        [("insert", k, p, s) for k, (p, s) in self.rows.items()]}

    def checksum(self):
        n = ks = cs = mix = 0
        for k, (p, _) in self.rows.items():
            c = round(p * 100)
            n, ks, cs, mix = n + 1, ks + k, cs + c, mix + (k % 1000) * (c % 1000)
        return (n, ks, cs, mix)

    def commit(self, v, changes):
        if v == self.version:
            return f"expected a commit after version {v}"
        for kind, k, p, s in changes:
            if kind in ("insert", "update_postimage"):
                self.rows[k] = (p, s)
            elif kind == "delete":
                del self.rows[k]
        self.version = v
        self.sums[v] = self.checksum()
        self.changes[v] = changes
        return None

    def upsert(self, rows):
        out = []
        for r in rows:
            k, new = r["o_orderkey"], (r["o_totalprice"], r["o_orderstatus"])
            if k in self.rows:
                out += [("update_preimage", k) + self.rows[k], ("update_postimage", k) + new]
            else:
                out.append(("insert", k) + new)
        return out


def check_service(man, out, summary, scratch):
    with open(man["script"]) as f:
        script = [json.loads(line) for line in f][:summary["ops_done"]]
    with open(os.path.join(out, "results.jsonl")) as f:
        results = [json.loads(line) for line in f if line.strip()]
    if len(results) != len(script):
        return [f"{len(results)} results for {len(script)} requests"]
    m = Model(man["init"], summary["start_version"], man["history_commits"])
    problems = []
    for i, (op, res) in enumerate(zip(script, results)):
        kind = op["op"]
        err = None
        if kind == "point_read":
            want = [[op["key"], *m.rows[op["key"]]]] if op["key"] in m.rows else []
            if res["rows"] != want:
                err = f"read of key {op['key']}: got {res['rows']}, want {want}"
        elif kind == "time_travel":
            want = list(m.sums.get(res["version"], ()))
            if res["checksum"] != want:
                err = f"time travel to v{res['version']}: got {res['checksum']}, want {want}"
        elif kind == "cdf":
            got = sorted(tuple(r) for r in res["rows"])
            want = sorted(m.changes.get(res["version"], []))
            if got != want:
                err = f"change feed of v{res['version']}: {len(got)} rows, want {len(want)}"
        elif kind in ("append", "merge"):
            err = m.commit(res["version"], m.upsert(op["rows"]))
        elif kind == "update":
            p, s = m.rows[op["key"]]
            err = m.commit(res["version"], [("update_preimage", op["key"], p, s),
                                            ("update_postimage", op["key"], op["price"], op["status"])])
        elif kind == "delete":
            err = m.commit(res["version"], [("delete", op["key"]) + m.rows[op["key"]]])
        elif kind == "optimize" and res["version"] != m.version:
            err = m.commit(res["version"], [])
        if err:
            problems.append(f"request {i} ({kind}): {err}")
    final = pq.read_table(os.path.join(out, "final")).to_pydict()
    got = sorted(zip(final["o_orderkey"], final["o_totalprice"], final["o_orderstatus"]))
    want = sorted((k, p, s) for k, (p, s) in m.rows.items())
    if got != want:
        problems.append(f"final table: {len(got)} rows, want {len(want)}; "
                        f"{len(set(got) ^ set(want))} rows differ")
    return problems


CHECKS = {"medallion_stream": check_medallion, "table_service": check_service}
