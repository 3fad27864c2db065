"""Per-stream metrics, shaped like the reference's Metrics struct
(entity/common.go:36-62). One per spec's Stream, shared by publish,
process_batch and the spec's streaming query (the reference sums its
executors' counters per spec, supervisor.go:105-131); the query's
listener adds `numInputRows` from its progress events."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Metrics:
    events_processed: int = 0
    events_stored_in_sink: int = 0
    microbatches: int = 0
    bytes_processed: int = 0
    bytes_ingested: int = 0
    sink_operations: int = 0
    sink_processing_time_micros: int = 0
    event_processing_time_micros: int = 0
    events_excluded: int = 0
    events_failed: int = 0
    stream_restarts: int = 0


@dataclass
class NotifyEvent:
    """Engine notification event (reference entity.NotificationEvent,
    entity/notify.go:5-32: Level/Sender/Stream/Message; Timestamp and
    stack info omitted — tests assert on the deterministic fields)."""

    level: str
    sender: str
    message: str
    stream: str = ""


class Notifier:
    """Operational-event channel (reference pkg/notify): every
    lifecycle action lands here, and external consumers subscribe —
    the geist.NotificationChannel() surface (geist.go)."""

    def __init__(self):
        self.events: list[NotifyEvent] = []
        self._subscribers: list = []

    def notify(
        self, level: str, sender: str, message: str, stream: str = ""
    ) -> None:
        ev = NotifyEvent(level, sender, message, stream)
        self.events.append(ev)
        for cb in self._subscribers:
            try:
                cb(ev)
            except Exception:  # a broken consumer must not stall the engine
                pass

    def subscribe(self, callback) -> None:
        """callback(NotifyEvent) on every future event."""
        self._subscribers.append(callback)
