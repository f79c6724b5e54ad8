#!/usr/bin/env python3
"""Generate the tiny TIMESTAMP(NANOS) events fixture.

Writes src/test/resources/graft/events_nanos/events.parquet: four rows with
the column layout of the fixture `events` table, `ts` stored as parquet
TIMESTAMP(NANOS) — the first fixture generation's layout, which Spark only
reads under spark.sql.legacy.parquet.nanosAsLong (graft.Tables.load sets it).
The last two instants are pre-1970 / epoch edge cases for the
nanos-to-micros floor. SchemaEvolutionSpec reads the file.

Run from the repo root with pyarrow 16.1: python3 tools/make_nanos_events_fixture.py
"""
import os

import pyarrow as pa
import pyarrow.parquet as pq

OUT = "src/test/resources/graft/events_nanos/events.parquet"

TS_NANOS = [
    1704067200123456789,  # 2024-01-01 00:00:00.123456789
    1704067260000000000,  # 2024-01-01 00:01:00
    -1,                   # 1969-12-31 23:59:59.999999999
    0,                    # 1970-01-01 00:00:00
]

table = pa.table({
    "event_id": pa.array([0, 1, 2, 3], pa.int64()),
    "ts": pa.array(TS_NANOS, pa.timestamp("ns")),
    "user_id": pa.array([13, 12, 12, 7], pa.int64()),
    "event_type": pa.array(["error", "signup", "purchase", "click"], pa.string()),
    "value": pa.array([185.22, 106.03, 9.64, 1.0], pa.float64()),
    "props": pa.array(['{"k": 87}', '{"k": 0}', '{"k": 12}', '{"k": 1}'], pa.string()),
})

os.makedirs(os.path.dirname(OUT), exist_ok=True)
# format 2.6 keeps the nanosecond unit (older formats coerce to micros)
pq.write_table(table, OUT, version="2.6")
print(f"wrote {OUT}: {table.num_rows} rows")
