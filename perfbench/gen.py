"""Seeded input generators for the benchmark.

The engine sees only what these functions write: parquet tables in the
layout ``load_table`` reads (``<dir>/<name>.parquet``) and, for the live
stream, parquet files that appear in a directory on a fixed schedule.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

EPOCH = pd.Timestamp("2024-01-01")
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])  # test-data order


def _write(df: pd.DataFrame, path: str) -> None:
    df.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)


def replay_profile(seed: int) -> dict:
    """Key count, Zipf skew and mean inter-event gap of the replay
    ``events`` table. The ranges are narrow on purpose: the seed varies
    the input, but throughput must stay comparable across seeds."""
    rng = np.random.default_rng([seed, 1])
    return {
        "users": int(rng.integers(1900, 2101)),
        "zipf_s": round(float(rng.uniform(0.4, 0.5)), 3),
        "gap_mean_s": round(float(rng.uniform(20.0, 24.0)), 2),
    }


def events_table(seed: int, n: int, users: int, zipf_s: float, gap_mean_s: float) -> pd.DataFrame:
    """``events`` in the schema of the engine's test data. User ids follow
    a Zipf-like law over ``users`` keys (offset so the hottest key holds
    a few hundred events, which keeps the recursive EWMA oracle fast);
    timestamps advance by exponential gaps, so
    the share of gaps above the 5 s session gap is set by ``gap_mean_s``.
    ``value`` is exponential with mean 50, as in the test data."""
    rng = np.random.default_rng([seed, 2])
    w = (np.arange(users) + 50.0) ** -zipf_s
    user = rng.choice(users, size=n, p=w / w.sum())
    gaps = rng.exponential(gap_mean_s, size=n)
    ts = EPOCH + pd.to_timedelta(np.cumsum(gaps) * 1e6, unit="us").floor("us")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": user.astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, size=n)],
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
        }
    )


def write_events(out_dir: str, seed: int, n: int, **profile) -> str:
    _write(events_table(seed, n, **profile), os.path.join(out_dir, "events.parquet"))
    return out_dir


def write_relational(out_dir: str, seed: int = 42, sf: float = 0.1) -> str:
    """The engine's test-data tables (region, nation, customer, supplier,
    part, orders, lineitem, events) at scale ``sf``: lineitem has
    6M × sf rows and events 1M × sf. With seed 42 and sf 0.1 these are
    the engine's committed sf0.1 test data, value for value: the columns
    are drawn from one generator in the same order, with the same ranges
    and category lists. ``perfbench/calibrate.py`` checks that against a
    copy of the test data."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_supp, n_part, n_ev = int(10_000 * sf), int(200_000 * sf), int(1_000_000 * sf)
    day = pd.Timedelta(days=1)

    def pick(values, n):
        return np.asarray(values)[rng.integers(0, len(values), size=n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, size=n), 2)

    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    part_key = np.arange(n_part, dtype=np.int64)
    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": names}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": pick(
                    ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], n_cust
                ),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": part_key,
                "p_name": np.char.add(
                    np.char.add(
                        pick(["red", "blue", "small", "large", "hot", "cold", "old", "new"], n_part),
                        " ",
                    ),
                    pick(["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"], n_part),
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, size=n_part).astype(str)),
                "p_type": pick(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
                "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (part_key % 1000) / 10.0, 1),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, size=n_ord),
                "o_orderstatus": pick(["O", "F", "P"], n_ord),
                "o_totalprice": money(1000.0, 500000.0, n_ord),
                "o_orderdate": pd.Timestamp("1995-01-01") + rng.integers(0, 2405, size=n_ord) * day,
                "o_orderpriority": pick(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        # prices are independent of quantity and part, as in the test data
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, size=n_li),
                "l_partkey": rng.integers(0, n_part, size=n_li),
                "l_suppkey": rng.integers(0, n_supp, size=n_li),
                "l_linenumber": rng.integers(1, 8, size=n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
                "l_extendedprice": money(900.0, 105000.0, n_li),
                "l_discount": np.round(rng.uniform(0.0, 0.1, size=n_li), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, size=n_li), 2),
                "l_returnflag": pick(["R", "A", "N"], n_li),
                "l_linestatus": pick(["O", "F"], n_li),
                "l_shipdate": pd.Timestamp("1995-01-02") + rng.integers(0, 2499, size=n_li) * day,
            }
        ),
        # 30 days of events, uniform over 1,500 users
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pd.to_datetime(
                    EPOCH.value + (np.sort(rng.uniform(0.0, 30 * 86400.0, size=n_ev)) * 1e9)
                    .astype(np.int64)
                ).floor("us"),
                "user_id": rng.integers(0, 1500, size=n_ev),
                "event_type": EVENT_TYPES[rng.integers(0, 5, size=n_ev)],
                "value": np.round(rng.exponential(50.0, size=n_ev), 2),
                "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n_ev)],
            }
        ),
    }
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------- live ----
def live_file(seed: int, k: int, due: float, interval: float, per_file: int) -> pd.DataFrame:
    """File ``k`` of the live stream: ``per_file`` events whose generator
    timestamps spread over the file's interval ``[due - interval, due)``.
    Every 10th event (by id) is stamped 1-10 s late, the reference
    PojoSource profile."""
    rng = np.random.default_rng([seed, 3, k])
    ids = np.arange(k * per_file, (k + 1) * per_file, dtype=np.int64)
    t = due - interval + np.sort(rng.uniform(0.0, interval, size=per_file))
    late = np.where(ids % 10 == 9, rng.integers(1, 11, size=per_file), 0)
    ts = pd.to_datetime(((t - late) * 1e6).astype(np.int64), unit="us")
    return pd.DataFrame({"id": ids, "ts": ts})


def run_live_generator(
    out_dir: str, ledger_path: str, seed: int, t0: float, interval: float, per_file: int,
    n_files: int,
) -> None:
    """Open-loop generator: file ``k`` is due at ``t0 + (k + 1) * interval``
    on the wall clock and is written then, whatever the engine is doing.
    Each file is written under a dot-name (which the file source ignores)
    and renamed into place. The ledger records per file its due time, the
    time its rename completed and the events it carried; a final
    sentinel file far in event time advances the watermark so every real
    window is emitted."""
    ledger = []
    for k in range(n_files + 1):
        due = t0 + (k + 1) * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        if k < n_files:
            df = live_file(seed, k, due, interval, per_file)
        else:
            df = pd.DataFrame({"id": [-1], "ts": pd.to_datetime([int((due + 3600) * 1e6)], unit="us")})
        name = f"f{k:06d}.parquet"
        tmp = os.path.join(out_dir, "." + name)
        _write(df, tmp)
        os.rename(tmp, os.path.join(out_dir, name))
        ts_us = df["ts"].astype("int64") // 1000
        sums = df.groupby(ts_us // 10_000_000 * 10)["id"].sum()
        ledger.append(
            {
                "file": name,
                "due": due,
                "written": time.time(),
                "rows": len(df),
                "ts_us": ts_us.tolist(),
                "windows": {str(w): int(s) for w, s in sums.items()},
            }
        )
    with open(ledger_path, "w") as f:
        json.dump(ledger, f)


if __name__ == "__main__":
    a = sys.argv[1:]
    run_live_generator(a[0], a[1], int(a[2]), float(a[3]), float(a[4]), int(a[5]), int(a[6]))
