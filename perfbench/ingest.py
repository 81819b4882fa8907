"""The write path: generate MQTT messages, replay them through the
engine's ``start_ingest`` into a fresh lake, and read back what the
replay did (streaming phases, lake layout).

The ``dashboard`` workload builds its lake with :func:`replay`; a
traced run reports :func:`replay_layers` for that replay.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq

import checks
import gen
from common import GEN_REPS, median

PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")


def generate(ctx):
    """Generate and write the messages ``GEN_REPS`` times; keep the
    last copy. Returns (source dir, registered ids, median seconds)."""
    times = []
    for i in range(GEN_REPS):
        t = time.perf_counter()
        table, registered = gen.make_mqtt(ctx.seed)
        src = os.path.join(ctx.work, f"src{i}")
        gen.write_mqtt(table, src)
        times.append(time.perf_counter() - t)
        if i:
            shutil.rmtree(os.path.join(ctx.work, f"src{i - 1}"))
    return src, registered, median(times)


def replay(ctx, src: str, registry_df, name: str):
    """One availableNow replay of ``src`` into a fresh lake; returns
    (lake dir, points query, wall seconds)."""
    from mqtt_influx_storage_service_spark.streaming import mqtt_file_stream, start_ingest

    lake = os.path.join(ctx.work, f"lake-{name}")
    ckpt = os.path.join(ctx.work, f"ckpt-{name}")
    t = time.perf_counter()
    q = start_ingest(
        ctx.spark, src, lake, ckpt,
        devices=registry_df,
        events_topic=gen.EVENTS_TOPIC,
        source=mqtt_file_stream(ctx.spark, src, max_files_per_trigger=gen.FILES_PER_TRIGGER),
    )
    q.awaitTermination()
    return lake, q, time.perf_counter() - t


def lake_layout(lake: str) -> dict[str, float]:
    files = row_groups = size = 0
    for root, _dirs, names in os.walk(os.path.join(lake, "points")):
        if "_spark_metadata" in root:
            continue
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                files += 1
                size += os.path.getsize(p)
                row_groups += pq.ParquetFile(p).num_row_groups
    return {"lake.bytes": size, "lake.files": files, "lake.row_groups": row_groups}


def replay_layers(ctx, lake: str) -> dict[str, float]:
    """Per-layer figures of one replay: streaming phases summed over the
    batches of each query, source rows read per message, lake layout."""
    ctx.listener.drain(2 * gen.BATCHES)
    events = ctx.listener.take()
    pts, dead = events.get("points", []), events.get("dead_letter", [])
    out = {
        f"ingest.{ph}_ms": float(sum(e["ms"].get(ph, 0) for e in pts)) for ph in PHASES
    }
    out["ingest.dead_letter_addBatch_ms"] = float(sum(e["ms"].get("addBatch", 0) for e in dead))
    out["ingest.source_rows_per_msg"] = (
        sum(e["rows"] for e in pts) + sum(e["rows"] for e in dead)
    ) / gen.MESSAGES
    out["ingest.batches"] = float(len([e for e in pts if e["rows"] > 0]))
    out.update(lake_layout(lake))
    con = duckdb.connect()
    got = checks.lake_summary(con, lake)
    con.close()
    out["ingest.points_written"] = got["points"]
    out["ingest.quarantined_rows"] = got["quarantined"]
    return out
