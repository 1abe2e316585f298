"""Typed Spark schemas for the rearview domain tables.

Mirrors the reference DB schema (db/migrate/20140126035209_base_schema
.rearview.rb:4-71, db/schema.rb:16-87) with the opaque text/JSON columns
replaced by typed Spark columns (SURVEY.md §1.2-1.3, FIXTURES.md):

- jobs.metrics (text, newline-separated)  -> array<string>
- jobs.alert_keys (serialized text)       -> array<string>
- job_data.data (JSON LONGTEXT)           -> struct(status, output, graph_data)
- applications.ancestry                   -> path string (materialized path)
- users.preferences (serialized text)     -> map<string,string>

All ids are 64-bit (the reference's 32-bit ints overflow at our scale).
"""

from __future__ import annotations

from pyspark.sql import types as T

METRICS = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)

# jobs / monitors — db/schema.rb:50-74
MONITORS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("active", T.BooleanType(), False),
        T.StructField("last_run", T.TimestampType(), True),
        T.StructField("next_run", T.TimestampType(), True),
        T.StructField("cron_expr", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("alert_keys", T.ArrayType(T.StringType()), True),
        T.StructField("deleted_at", T.TimestampType(), True),
        T.StructField("error_timeout", T.IntegerType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("app_id", T.LongType(), False),
        T.StructField("metrics", T.ArrayType(T.StringType()), False),
        T.StructField("monitor_expr", T.StringType(), True),
        T.StructField("minutes", T.IntegerType(), False),
        T.StructField("to_date", T.TimestampType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

GRAPH_POINT = T.StructType(
    [
        T.StructField("metric", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

RUN_DATA = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("output", T.StringType()),
        T.StructField("graph_data", T.ArrayType(GRAPH_POINT)),
    ]
)

# job_data — db/schema.rb:29-36
JOB_DATA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("job_id", T.LongType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
        T.StructField("data", RUN_DATA, True),
    ]
)

# job_errors — db/schema.rb:38-48
JOB_ERRORS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("job_id", T.LongType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
        T.StructField("message", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("last_alerted_at", T.TimestampType(), True),
    ]
)

# applications — db/schema.rb:16-27 (ancestry -> path)
APPLICATIONS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("name", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("path", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("deleted_at", T.TimestampType(), True),
    ]
)

# users — db/schema.rb:76-87
USERS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("email", T.StringType(), False),
        T.StructField("first_name", T.StringType(), True),
        T.StructField("last_name", T.StringType(), True),
        T.StructField("last_login", T.TimestampType(), True),
        T.StructField("preferences", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

# Pending-alert outbox row: written as a sidecar of the SAME versioned
# monitors swap that commits the status transitions (store.save_monitors
# outbox=), so a crash between the CAS and dispatch can never lose an
# alert — the next tick drains it (at-least-once, notify.py's contract).
ALERT_OUTBOX = T.StructType(
    [
        T.StructField("id", T.LongType(), False),  # deterministic (job_id, fired_at) hash
        T.StructField("job_id", T.LongType(), False),
        T.StructField("alert_keys", T.ArrayType(T.StringType()), True),
        T.StructField("message", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("fired_at", T.TimestampType(), False),
    ]
)

# Append-only dispatch log: outbox rows whose id is not in it are the
# pending set (a driver-side set difference, store.pending_alerts). Marked
# per alert AFTER the send, one small driver-written parquet file renamed
# into alert_dispatches/ each, so a crash mid-drain redelivers only the
# unsent tail and marking costs no Spark job.
ALERT_DISPATCHES = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("dispatched_at", T.TimestampType(), False),
    ]
)

# Output of one monitor evaluation (pre-persistence).
RUN_RESULT = T.StructType(
    [
        T.StructField("job_id", T.LongType(), False),
        T.StructField("scheduled_ts", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("message", T.StringType(), True),
        T.StructField("output", T.StringType(), True),
        T.StructField("graph_data", T.ArrayType(GRAPH_POINT), True),
    ]
)
