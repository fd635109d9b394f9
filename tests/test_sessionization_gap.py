"""sessionization at sub-second gap precision, against its registered
DuckDB oracle: a gap of exactly 30 minutes continues the session, and
any longer gap — 1800.5 s included — starts a new one
(`> INTERVAL 30 MINUTE`)."""

import datetime as dt
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from tools.check_oracle import check_types, norm_rows  # noqa: E402

T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def _events(tmp_path):
    # user -> gaps (seconds) after the first event
    gaps = {1: [1800.0], 2: [1800.5], 3: [1801.0], 4: [1800.0, 1800.25]}
    rows = []
    for user, user_gaps in gaps.items():
        ts = T0 + dt.timedelta(seconds=0.25 * user)
        rows.append((user, ts))
        for g in user_gaps:
            ts = ts + dt.timedelta(seconds=g)
            rows.append((user, ts))
    table = pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "event_type": pa.array(["click"] * len(rows)),
        "value": pa.array([1.0] * len(rows)),
        "props": pa.array(["{}"] * len(rows)),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_sessionization_subsecond_gap_matches_oracle(spark, tmp_path):
    sf_dir = _events(tmp_path)
    sdf = entry.queries()["sessionization"](spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    res = con.sql(entry.oracle_sql()["sessionization"])
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert not check_types(
        "sessionization", sdf.columns, sdf.dtypes, res.columns, res.types
    )
    assert norm_rows(sdf.columns, spark_rows) == norm_rows(
        res.columns, duck_rows
    )
    sessions = {r["user_id"]: r["n_sessions"] for r in sdf.collect()}
    assert sessions == {1: 1, 2: 2, 3: 2, 4: 2}
