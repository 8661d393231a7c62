"""Tests of the benchmark's input generators (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

# Row count and content hash (pandas' row hashes, summed) of each table of
# the engine's committed sf0.1 test data.
TEST_DATA_SF01 = {
    "region": (5, 859403814582980360),
    "nation": (25, 5643749979461226909),
    "customer": (15000, 5416938634688768564),
    "supplier": (1000, 5889480677474851740),
    "part": (20000, 14239897399432030226),
    "orders": (150000, 4205974529942081244),
    "lineitem": (600000, 17203895703408360251),
    "events": (100000, 14962908966586141007),
}


def test_relational_tables_are_the_sf01_test_data(tmp_path):
    gen.write_relational(str(tmp_path), seed=42, sf=0.1)
    for name, (rows, digest) in TEST_DATA_SF01.items():
        df = pd.read_parquet(tmp_path / f"{name}.parquet")
        assert len(df) == rows, name
        assert int(pd.util.hash_pandas_object(df, index=False).sum()) == digest, name


def test_replay_events_follow_the_seed():
    profile = gen.replay_profile(7)
    a = gen.events_table(7, 500, **profile)
    assert a.equals(gen.events_table(7, 500, **profile))
    assert not a.equals(gen.events_table(8, 500, **profile))
    assert a["ts"].is_monotonic_increasing
    assert list(a.columns) == ["event_id", "ts", "user_id", "event_type", "value", "props"]
