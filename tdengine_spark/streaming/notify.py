"""NOTIFY('ws://...') ON (window_open|window_close) analog (reference
grammar sql.y:1742-1791): push window events to an external endpoint
from each micro-batch.

Spark-first shape: a foreachBatch wrapper that extracts the batch's
window events and hands them to a transport callback — any callable
taking the list of event dicts. The driver-side callback runs once per
micro-batch, not per row.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def notify_on_close(
    transport: Callable[[list[dict]], None],
    event_type: str = "WINDOW_CLOSE",
    max_events_per_batch: int = 10_000,
):
    """foreachBatch hook: every finalized window row in the batch becomes
    a notify event. In append mode each row IS a closed window, matching
    the reference's ON (window_close)."""

    def hook(batch: DataFrame, batch_id: int) -> None:
        rows = batch.limit(max_events_per_batch).collect()
        events = [
            {"event": event_type, "batch_id": batch_id, **r.asDict()} for r in rows
        ]
        if events:
            transport(events)

    return hook


def with_notify(result: DataFrame, checkpoint: str, transport, trigger=None):
    """writeStream wiring: notify + (optionally) further sinks go in the
    same foreachBatch."""
    w = (
        result.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(notify_on_close(transport))
    )
    if trigger:
        w = w.trigger(**trigger)
    return w.start()
