"""Enrichment hooks: client callables around the transform.

Mirrors entity/hook.go:5-30 and the executor's action handling
(internal/pkg/engine/executor.go:202-280). Hooks run:
- publish (single-event batch) path: per event, driver-side, where
  the error actions send the raw event to HOUE;
- process_batch and the streaming query: distributed over Arrow
  batches (`mapInPandas`, not per-row JVM calls) by
  `apply_pre_hook_distributed` on the source before routing (a
  streaming query applies it once, at query start) and
  `apply_post_hook_distributed` on the records before analytics and
  the sink (`Stream.route_batch` / `Stream.shape`).
"""

from __future__ import annotations

import json
from enum import IntEnum
from typing import Any, Callable


class HookAction(IntEnum):
    PROCEED = 0
    SKIP = 1
    RETRYABLE_ERROR = 2
    UNRETRYABLE_ERROR = 3
    SHUTDOWN = 4


# PreTransformHookFunc(ctx, event: bytearray-like holder) -> HookAction
PreTransformHook = Callable[[dict[str, Any], "EventHolder"], HookAction]
# PostTransformHookFunc(ctx, transformed: list[dict]) -> HookAction
PostTransformHook = Callable[[dict[str, Any], list[dict[str, Any]]], HookAction]


class EventHolder:
    """Mutable raw-event wrapper so hooks can enrich in place
    (geist.go EnrichEvent ≈ sjson set; geist.go:212-214)."""

    def __init__(self, data: str):
        self.data = data

    def enrich(self, **fields: Any) -> None:
        doc = json.loads(self.data) if self.data else {}
        doc.update(fields)
        self.data = json.dumps(doc, separators=(",", ":"))


def enrich_event(event: str | bytes, path: str, value: Any) -> str:
    """Set a dotted-path field in a raw JSON event, creating nested
    objects along the way (reference geist.EnrichEvent / sjson.SetBytes,
    geist.go:212-214)."""
    if isinstance(event, bytes):
        event = event.decode()
    doc = json.loads(event) if event else {}
    node = doc
    parts = path.split(".")
    for p in parts[:-1]:
        nxt = node.get(p)
        if not isinstance(nxt, dict):
            nxt = {}
            node[p] = nxt
        node = nxt
    node[parts[-1]] = value
    return json.dumps(doc, separators=(",", ":"))


class HookError(Exception):
    def __init__(self, action: HookAction):
        super().__init__(f"hook returned {action.name}")
        self.action = action


def apply_pre_hook_distributed(df, hook, stream_id: str, value_col: str = "value"):
    """Distributed pre-transform hook over a micro-batch DataFrame.

    Arrow-batched mapInPandas; the hook itself is user Python (the
    inherent slow path — reference hooks are per-event Go callbacks).
    Actions: PROCEED keeps the (possibly enriched) event; SKIP,
    RETRYABLE_ERROR and UNRETRYABLE_ERROR drop the row (per-event DLQ
    routing is not available distributed — use the publish path for
    that); SHUTDOWN raises and fails the batch."""
    schema = df.schema
    ctx = {"stream_id": stream_id}

    def run(batches):
        for pdf in batches:
            keep = []
            values = []
            for v in pdf[value_col]:
                holder = EventHolder(v)
                action = hook(ctx, holder)
                if action == HookAction.SHUTDOWN:
                    raise HookError(action)
                ok = action == HookAction.PROCEED
                keep.append(ok)
                values.append(holder.data if ok else v)
            pdf = pdf.copy()
            pdf[value_col] = values
            yield pdf[keep]

    return df.mapInPandas(run, schema)


def apply_post_hook_distributed(df, hook, stream_id: str):
    """Distributed post-transform hook: called once per Arrow batch
    with the transformed records as list[dict] (mutable in place,
    matching the reference's []*Transformed contract)."""
    import pandas as pd

    schema = df.schema
    ctx = {"stream_id": stream_id}
    cols = df.columns

    def run(batches):
        for pdf in batches:
            records = pdf.to_dict("records")
            action = hook(ctx, records)
            if action == HookAction.SHUTDOWN:
                raise HookError(action)
            if action == HookAction.PROCEED:
                yield pd.DataFrame(records, columns=cols)
            # SKIP / errors drop the batch's records

    return df.mapInPandas(run, schema)
