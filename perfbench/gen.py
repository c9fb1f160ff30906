"""Seeded input generator for the benchmark.

Makes TPC-H-shaped `customer` and `orders` tables and an `events` stream
with the column names and types of the repository's sf testdata, then cuts
them into the inputs one workload needs. Everything is a pure function of
(workload, seed, sf): the same arguments give byte-identical inputs. The
program under test receives only the files written here and `manifest.json`.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
TS = pa.timestamp("us", tz="UTC")

# medallion_stream: share of each arrival batch that re-sends an earlier row,
# and share that corrects one (same key, new value, later arrival_seq)
RESEND_SHARE = 0.05
CORRECT_SHARE = 0.03
INIT_SHARE = 0.15  # initial history, loaded as batch 0
BATCH_SHARE = 0.01
ARRIVAL_BATCHES = 16
CUSTOMER_CHANGES = 20  # customer attribute changes per arrival batch

# table_service: one round of the client's script; every round has exactly
# this make-up, in a seeded order
ROUND = (["point_read"] * 8 + ["time_travel"] * 2 + ["cdf"] * 2 + ["append"] * 8
         + ["merge"] * 2 + ["update", "delete", "optimize"])
SERVICE_ROUNDS = 60
APPEND_ROWS = 20
MERGE_UPDATES, MERGE_INSERTS = 3, 2
TIME_TRAVEL_DEPTH = 5  # versions back, as the reference's time-travel benchmark
HISTORY_COMMITS = 200  # metadata-only commits made in set-up, before the rounds


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(rng, sf):
    """sf-scaled customer / orders / events (sf0.1 = 15k / 150k / 100k rows,
    as in the repository's testdata)."""
    n_c = max(50, int(150_000 * sf))
    n_o = max(200, int(1_500_000 * sf))
    n_e = max(400, int(1_000_000 * sf))
    customer = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_c)],
    })
    odays = np.sort(rng.integers(0, 2404, n_o))  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n_o)],
        "o_totalprice": money(rng, 1000, 500000, n_o),
        "o_orderdate": pa.array(EPOCH_1995 + odays * US_PER_DAY, TS),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_o)],
    })
    ets = np.sort(rng.integers(0, 30 * US_PER_DAY, n_e))  # 30 days of 2024
    events = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + ets, TS),
        "user_id": rng.integers(0, n_c // 10, n_e).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_e)],
        "value": money(rng, 0, 500, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    return customer, orders, events


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def arrivals(rng, table, n_init, per_batch, corrector):
    """Split `table` (in event-time order) into an initial history of
    `n_init` rows and ARRIVAL_BATCHES batches of `per_batch` new rows, each
    topped up with re-sent and corrected copies of earlier rows. Every row
    gets a strictly increasing `arrival_seq`; the latest per key wins."""
    seq = 0
    init = table.slice(0, n_init)
    init = init.append_column("arrival_seq", pa.array(np.arange(n_init, dtype=np.int64)))
    seq = n_init
    batches = []
    for b in range(ARRIVAL_BATCHES):
        lo = n_init + b * per_batch
        fresh = table.slice(lo, per_batch)
        n_re = max(1, int(per_batch * RESEND_SHARE))
        n_co = max(1, int(per_batch * CORRECT_SHARE))
        # re-sends and corrections pick from rows that arrived before, skewed
        # toward the recent ones as a late-data stream would be
        back = np.minimum(lo - 1, rng.geometric(1.0 / (2 * per_batch), n_re + n_co))
        picks = table.take(pa.array(lo - 1 - back))
        resent = picks.slice(0, n_re)
        corrected = corrector(rng, picks.slice(n_re))
        rows = pa.concat_tables([fresh, resent, corrected])
        order = rng.permutation(rows.num_rows)
        rows = rows.take(pa.array(order))
        rows = rows.append_column(
            "arrival_seq", pa.array(np.arange(seq, seq + rows.num_rows, dtype=np.int64)))
        seq += rows.num_rows
        batches.append(rows)
    return init, batches


def correct_event(rng, t):
    return t.set_column(t.schema.get_field_index("value"), "value",
                        pa.array(money(rng, 0, 500, t.num_rows)))


def correct_order(rng, t):
    t = t.set_column(t.schema.get_field_index("o_totalprice"), "o_totalprice",
                     pa.array(money(rng, 1000, 500000, t.num_rows)))
    return t.set_column(t.schema.get_field_index("o_orderstatus"), "o_orderstatus",
                        pa.array(STATUSES[rng.integers(0, 3, t.num_rows)]))


def gen_medallion(rng, sf, out):
    """Batch 0 is the initial history; batches 1.. each carry 1% new events
    and orders plus re-sent and corrected rows, and customer changes. Each
    batch lists the event dates and order years it touches, which are the
    gold partitions it must refresh."""
    customer, orders, events = base_tables(rng, sf)
    man = {"customer": write(customer, f"{out}/customer.parquet")}
    cut = {}
    for name, table, fix in (("events", events, correct_event),
                             ("orders", orders, correct_order)):
        n_init = int(table.num_rows * INIT_SHARE)
        per = max(5, int(table.num_rows * BATCH_SHARE))
        cut[name] = arrivals(rng, table, n_init, per, fix)
    batches, seq = [], 1
    for i in range(ARRIVAL_BATCHES + 1):
        ev = cut["events"][0] if i == 0 else cut["events"][1][i - 1]
        od = cut["orders"][0] if i == 0 else cut["orders"][1][i - 1]
        days = pc.cast(ev["ts"], pa.int64()).to_numpy() // US_PER_DAY
        years = pc.year(od["o_orderdate"]).to_numpy()
        b = {"events": write(ev, f"{out}/events/{i:04d}.parquet"), "events_rows": ev.num_rows,
             "orders": write(od, f"{out}/orders/{i:04d}.parquet"), "orders_rows": od.num_rows,
             "dates": [str(np.datetime64(int(d), "D")) for d in np.unique(days)],
             "years": [int(y) for y in np.unique(years)]}
        if i > 0:
            keys = rng.integers(0, customer.num_rows, CUSTOMER_CHANGES)
            c = customer.take(pa.array(keys))
            c = c.set_column(3, "c_acctbal", pa.array(money(rng, -999.99, 9999.99, len(keys))))
            c = c.set_column(2, "c_nationkey", pa.array(rng.integers(0, 25, len(keys)).astype(np.int32)))
            c = c.append_column("change_seq", pa.array(np.arange(seq, seq + len(keys), dtype=np.int64)))
            seq += len(keys)
            b["customers"] = write(c, f"{out}/customers/{i:04d}.parquet")
            b["customers_rows"] = c.num_rows
        batches.append(b)
    man["batches"] = batches
    return man


def gen_service(rng, sf, out):
    """A keyed orders table and the client's script. The generator keeps the
    key set while writing the script only so that every UPDATE, DELETE and
    MERGE names keys that exist at that point; the checker does not reuse
    it, it replays the script on its own model."""
    _, orders, _ = base_tables(rng, sf)
    n0 = orders.num_rows // 5
    init = orders.slice(0, n0)
    man = {"init": write(init, f"{out}/init.parquet"), "rows_init": n0}
    live = list(range(n0))  # keys in insertion order; recent keys at the end
    alive = set(live)
    next_key = orders.num_rows
    ops = []

    def recent_key():
        while True:
            k = live[max(0, len(live) - 1 - int(rng.geometric(0.01)))]
            if k in alive:
                return int(k)

    def new_row(k):
        return {"o_orderkey": k, "o_custkey": int(rng.integers(0, 15_000)),
                "o_orderstatus": str(STATUSES[rng.integers(0, 3)]),
                "o_totalprice": float(money(rng, 1000, 500000, 1)[0]),
                "o_orderdate": int(rng.integers(0, 2404)),
                "o_orderpriority": str(PRIORITIES[rng.integers(0, 5)])}

    for r in range(SERVICE_ROUNDS):
        for kind in rng.permutation(ROUND):
            op = {"op": str(kind)}
            if kind == "point_read":
                op["key"] = recent_key()
            elif kind == "time_travel":
                op["back"] = int(rng.integers(1, TIME_TRAVEL_DEPTH + 1))
            elif kind == "append":
                op["rows"] = [new_row(next_key + i) for i in range(APPEND_ROWS)]
                next_key += APPEND_ROWS
            elif kind == "merge":
                upd = {recent_key() for _ in range(MERGE_UPDATES)}
                op["rows"] = [new_row(k) for k in sorted(upd)] + \
                    [new_row(next_key + i) for i in range(MERGE_INSERTS)]
                next_key += MERGE_INSERTS
            elif kind == "update":
                op["key"] = recent_key()
                op["price"] = float(money(rng, 1000, 500000, 1)[0])
                op["status"] = str(STATUSES[rng.integers(0, 3)])
            elif kind == "delete":
                op["key"] = recent_key()
                alive.discard(op["key"])
            for row in op.get("rows", []):
                if row["o_orderkey"] not in alive:
                    alive.add(row["o_orderkey"])
                    live.append(row["o_orderkey"])
            ops.append(op)
    with open(f"{out}/script.jsonl", "w") as f:
        for op in ops:
            f.write(json.dumps(op) + "\n")
    man["script"] = f"{out}/script.jsonl"
    man["round_ops"] = len(ROUND)
    man["history_commits"] = HISTORY_COMMITS
    return man


GENERATORS = {"medallion_stream": gen_medallion, "table_service": gen_service}


def generate(workload, seed, sf, out):
    """Write one workload's inputs under `out` and return the manifest."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    man = GENERATORS[workload](rng, sf, out)
    man.update(workload=workload, seed=seed, sf=sf)
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(man, f, indent=1)
    return man
