"""Admin sink: admin-stream events -> registry sync + redeploy.

The reference's admin sink receives AdminEvent notifications from the
admin stream and makes not-yet-synchronized Registries load new specs
from storage (adminspec.go:9-17; supervisor.go:288-317 OnAdminEvent).
Here the sink holds a callback into the owning Engine: every non-empty
micro-batch whose eventName matches a registry event triggers
``Engine.sync_from_registry()`` — adopt-changed-specs + redeploy.

Sync is idempotent (version-gated in the registry), so replaying the
admin topic from seq 0 on a fresh pod is exactly the reference's
"registries not yet synchronized load the new specs" bootstrap.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from geist_spark.sinks.base import Loader
from geist_spark.spec.model import Spec

log = logging.getLogger(__name__)

# reference admin event names (pkg/admin AdminEvent contract)
REGISTRY_EVENTS = {"specRegistered", "specUpdated", "specDeleted"}


class AdminLoader(Loader):
    def __init__(self, spark: SparkSession, spec: Spec, on_event=None):
        self.spec = spec
        self.on_event = on_event  # callable(event_name: str) -> None
        self.events_seen = 0

    def stream_load(self, df: DataFrame, epoch_id: int | None = None) -> str:
        # control-plane scale: a micro-batch holds at most a handful of
        # admin notifications — collect is the point, not an anti-pattern
        names = (
            [r[0] for r in df.select("eventName").collect()]
            if "eventName" in df.columns
            else [r[0] for r in df.collect()]
        )
        synced = False
        for name in names:
            self.events_seen += 1
            if name in REGISTRY_EVENTS and self.on_event is not None and not synced:
                self.on_event(name)
                synced = True  # one sync covers the whole batch
        return "admin"
