"""Load generator for the benchmark: a process of its own, separate from
the Spark JVM, that writes seeded inputs as parquet files.

Every file is written under a hidden temporary name (Spark's file
source skips names starting with ``.``) and then renamed into place, so
a streaming query never lists a half-written file.  Every row carries
``created_ms``, the wall-clock epoch milliseconds at which its file was
written.  Each command appends one JSON line per file to a manifest
(``file``, ``rows``, ``due_ms``, ``created_ms``, and counts the checks
need), so the benchmark learns what was generated without re-deriving it.

Commands (all take ``--seed`` and ``--out``):

``orders-json``  staged backlog of Kafka-shaped orders: a string key and
                 a JSON ``value`` holding order_id, user_id and price.
``join-streams`` staged backlog of two typed order streams, ``left/``
                 and ``right/``, the right at half the left's rate.
``openloop``     typed orders, one file every ``--interval-ms`` on a
                 fixed schedule for ``--seconds``, whatever the consumer
                 does.
``tables``       the star-schema and ``events`` tables the batch
                 queries read.

Run ``python3 perfbench/loadgen.py <command> --help`` for the arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: event-time origin of the streaming inputs (2024-01-01T00:00:00Z)
T0_US = 1_704_067_200_000_000
#: malformed JSON values: a truncated object and a non-JSON token
MALFORMED = ('{"order_id": "orderNumber-7", "price":', "not-json{")
MALFORMED_SHARE = 0.005
#: join streams: event seconds per file, and the most a row's event time
#: lags its nominal time (under the join's 5 s watermark delay)
SPAN_MS, JITTER_MS = 1000, 2000


def _now_ms() -> int:
    return time.time_ns() // 1_000_000


class Writer:
    """Atomic parquet writes into one directory plus the manifest."""

    def __init__(self, out: str, manifest) -> None:
        self.out = out
        self.manifest = manifest
        os.makedirs(out, exist_ok=True)

    def write(self, name: str, columns: dict, due_ms: int | None = None, **extra) -> None:
        created = _now_ms()
        n = len(next(iter(columns.values())))
        table = pa.table({**columns, "created_ms": pa.array(np.full(n, created, np.int64))})
        tmp = os.path.join(self.out, f".{name}.tmp")
        final = os.path.join(self.out, f"{name}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, final)
        rec = {"file": final, "rows": n, "due_ms": due_ms if due_ms is not None else created,
               "created_ms": created, **extra}
        self.manifest.write(json.dumps(rec) + "\n")
        self.manifest.flush()


def orders_json(args, w: Writer) -> None:
    rng = np.random.default_rng(args.seed)
    per_file = args.rows // args.files
    for i in range(args.files):
        users = rng.integers(0, args.keys, per_file)
        prices = np.round(rng.uniform(1.0, 500.0, per_file), 2)
        numbers = rng.integers(1, 5000, per_file)
        is_order_number = rng.random(per_file) < 0.4
        bad = rng.random(per_file) < MALFORMED_SHARE
        values = [
            MALFORMED[n % 2] if b else
            f'{{"order_id": "{"orderNumber" if o else "cart"}-{n}", "user_id": {u}, "price": {p!r}}}'
            for u, p, n, o, b in zip(users.tolist(), prices.tolist(), numbers.tolist(),
                                     is_order_number.tolist(), bad.tolist())
        ]
        w.write(f"part-{i:05d}", {"key": pa.array([f"user-{u}" for u in users]),
                                  "value": pa.array(values)}, malformed=int(bad.sum()))


def join_streams(args, w: Writer) -> None:
    """Left at ``--rate`` rows per event-second, right at half of it.

    File ``i`` covers event time ``[i*SPAN_MS, (i+1)*SPAN_MS)`` on both
    sides; each row's event time is its nominal time minus a jitter in
    ``[0, JITTER_MS)``, so rows arrive out of order but never behind a
    watermark of (max event time seen) - 5 s."""
    rng = np.random.default_rng(args.seed)
    left = Writer(os.path.join(w.out, "left"), w.manifest)
    right = Writer(os.path.join(w.out, "right"), w.manifest)
    span_us = SPAN_MS * 1000
    next_id = 1
    for i in range(args.files):
        for side, rate in ((left, args.rate), (right, args.rate // 2)):
            n = rate * SPAN_MS // 1000
            nominal = T0_US + i * span_us + np.sort(rng.integers(0, span_us, n))
            ts = nominal - rng.integers(0, JITTER_MS * 1000, n)
            users = rng.integers(0, args.keys, n)
            ids = np.arange(next_id, next_id + n, dtype=np.int64)
            next_id += n
            side.write(f"part-{i:05d}", {
                "user_id": pa.array([f"u{u}" for u in users]),
                "order_id": pa.array(ids),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            })


def openloop(args, w: Writer) -> None:
    rng = np.random.default_rng(args.seed)
    per_file = args.rate * args.interval_ms // 1000
    n_files = args.seconds * 1000 // args.interval_ms
    start_ms = _now_ms() + args.interval_ms
    for i in range(n_files):
        due = start_ms + i * args.interval_ms
        delay = (due - _now_ms()) / 1000.0
        if delay > 0:
            time.sleep(delay)
        keys = rng.integers(0, args.keys, per_file)
        prices = np.round(rng.uniform(1.0, 100.0, per_file), 2)
        w.write(f"part-{i:05d}", {"key": pa.array([f"k{k}" for k in keys]),
                                  "price": pa.array(prices)}, due_ms=due)


def tables(args, w: Writer) -> None:
    """TPC-H-shaped dimension/fact tables plus ``events``, column types
    as the query registry expects them (``load_table`` reads them)."""
    rng = np.random.default_rng(args.seed)
    sf = args.scale
    # row counts per unit of scale as in TPC-H (events: 1M per unit)
    n_cust, n_ord, n_li, n_ev = (int(n * sf) for n in (150_000, 1_500_000, 6_000_000, 1_000_000))
    n_users = max(1, int(15_000 * sf))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

    def put(name, cols):
        # fixed tables carry no created_ms: the batch queries read them whole
        table = pa.table(cols)
        tmp = os.path.join(w.out, f".{name}.tmp")
        final = os.path.join(w.out, f"{name}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, final)
        w.manifest.write(json.dumps({"file": final, "rows": table.num_rows}) + "\n")

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(regions)})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
                   "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    put("customer", {"c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
                     "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32))})
    put("orders", {"o_orderkey": pa.array(np.arange(1, n_ord + 1, dtype=np.int64)),
                   "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord)),
                   "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500000.0, n_ord), 2))})
    day_us = 86_400_000_000
    ship = T0_US + rng.integers(0, 730, n_li) * day_us
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(1, n_ord + 1, n_li)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 100000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    ev_ts = T0_US + np.sort(rng.integers(0, 30 * day_us, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(["click", "view", "purchase", "signup", "error"], n_ev)),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="command", required=True)
    cmds = {
        "orders-json": orders_json, "join-streams": join_streams,
        "openloop": openloop, "tables": tables,
    }
    p = {name: sub.add_parser(name) for name in cmds}
    for sp in p.values():
        sp.add_argument("--seed", type=int, required=True)
        sp.add_argument("--out", required=True)
        sp.add_argument("--manifest", required=True)
    for name, opts in {"orders-json": ("--rows", "--files", "--keys"),
                       "join-streams": ("--rate", "--files", "--keys"),
                       "openloop": ("--rate", "--interval-ms", "--seconds", "--keys")}.items():
        for opt in opts:
            p[name].add_argument(opt, type=int, required=True)
    p["tables"].add_argument("--scale", type=float, required=True)
    args = ap.parse_args(argv)
    with open(args.manifest, "a") as manifest:
        cmds[args.command](args, Writer(args.out, manifest))


if __name__ == "__main__":
    main()
