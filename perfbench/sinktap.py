"""Benchmark-side hooks on the sink call, installed in every run mode.

- VoidTap: the void sink discards its rows, so the tap attaches an
  Observation (row count, sum of user, sum of amount) to the frame the
  sink writes. The figures come out of the sink's own write job; no
  extra Spark job runs.
- StopGate: a streaming query cannot be stopped between micro-batches
  from the outside. Once a stop is requested the gate holds the next
  batch at its sink call, before that batch writes anything, so the
  sink and the DLQ hold exactly the batches that completed.
"""

from __future__ import annotations

import threading


class BenchStop(Exception):
    """Raised into the held micro-batch when the benchmark stops it."""


def _wrap(cls, make):
    orig = cls.stream_load
    cls.stream_load = make(orig)


class VoidTap:
    def __init__(self):
        from pyspark.sql import functions as F
        from pyspark.sql.observation import Observation

        from geist_spark.sinks.void import VoidLoader

        self.rows = self.users = self.amounts = 0
        tap = self

        def make(orig):
            def stream_load(loader, df, epoch_id=0):
                obs = Observation()
                df = df.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum("user"), F.lit(0)).alias("u"),
                    F.coalesce(F.sum("amount"), F.lit(0)).alias("a"),
                )
                rid = orig(loader, df, epoch_id)
                got = obs.get
                tap.rows += got["n"]
                tap.users += got["u"]
                tap.amounts += got["a"]
                return rid

            return stream_load

        _wrap(VoidLoader, make)

    def totals(self) -> tuple[int, int, int]:
        return (self.rows, self.users, self.amounts)


class StopGate:
    def __init__(self, on_batch=None):
        from geist_spark.sinks.keyed_table import KeyedTableLoader
        from geist_spark.sinks.void import VoidLoader

        self.requested = threading.Event()
        self.reached = threading.Event()
        self.release = threading.Event()
        gate = self

        def make(orig):
            def stream_load(loader, df, epoch_id=0):
                if gate.requested.is_set():
                    gate.reached.set()
                    gate.release.wait()
                    raise BenchStop("perfbench stop")
                if on_batch is not None:
                    on_batch(epoch_id)
                return orig(loader, df, epoch_id)

            return stream_load

        for cls in (VoidLoader, KeyedTableLoader):
            _wrap(cls, make)

    def hold(self, timeout_s: float) -> bool:
        """Ask for a stop and wait until the next batch is held."""
        self.requested.set()
        return self.reached.wait(timeout_s)
