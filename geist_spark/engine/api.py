"""Engine: the public API facade (reference geist.go surface).

    eng = Engine(spark)
    sid = eng.register_stream(spec_json)   # geist.RegisterStream
    rid = eng.publish(sid, event)          # geist.Publish
    eng.metrics(sid)                       # geist.Metrics
    eng.shutdown()                         # geist.Shutdown

Native entities registered out of the box (reference config.go:137-176
preProcessConfig): sources `geistapi`, `eventsim`, `kafka`, `file`;
sinks `void`, `keyedTable` (+ aliases bigtable/bigquery/firestore which
the reference keeps in external connector repos — emulated here by the
keyed parquet table, SURVEY §2.2).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from geist_spark.compiler.transform import compile_transform
from geist_spark.engine.hooks import PostTransformHook, PreTransformHook
from geist_spark.engine.metrics import Metrics, Notifier
from geist_spark.engine.registry import RegistryError, SpecRegistry
from geist_spark.engine.stream import Stream
from geist_spark.sinks.base import Loader, LoaderFactory
from geist_spark.sinks.keyed_table import KeyedTableLoader
from geist_spark.sinks.void import VoidLoader
from geist_spark.spec.model import Spec


def registry_stream_spec(path: str) -> dict:
    """The registry's OWN stream spec (reference regspec.go:15-100):
    source = geistapi (specs are published as events), transform =
    namespace/streamIdSuffix for the row key + the raw spec JSON,
    sink = keyed table keyed by `namespace-streamIdSuffix` with
    maxVersions=1 (latest version wins on readback — firestore's
    upsert semantics, regspec.go:58-98)."""
    return {
        "namespace": "geist",
        "streamIdSuffix": "spec-reg",
        "version": 1,
        "description": "registry bootstrap stream",
        "source": {"type": "geistapi"},
        "transform": {
            "extractFields": [
                {
                    "fields": [
                        {"id": "namespace", "jsonPath": "namespace"},
                        {"id": "streamIdSuffix", "jsonPath": "streamIdSuffix"},
                        # raw event (no jsonPath) = the spec JSON itself
                        {"id": "specData", "type": "string"},
                    ]
                }
            ]
        },
        "sink": {
            "type": "keyedTable",
            "config": {
                "customConfig": {
                    "path": path,
                    "rowKeyFields": ["namespace", "streamIdSuffix"],
                    "rowKeyDelimiter": "-",
                    "maxVersions": 1,
                }
            },
        },
    }


def admin_event_spec(
    emulator_root: str,
    topic: str = "geist-admin-events",
    subscription: str | None = None,
) -> dict:
    """The built-in admin notification stream, ported from the
    reference's native AdminEventSpec (adminspec.go:19-63): pubsub
    source on the admin topic with a UNIQUE subscription (every pod
    sees every notification), extractFields eventName + rawEvent,
    admin sink. Runs against the file-backed pubsub emulator
    (sources/pubsub.py) instead of GCP."""
    return {
        "namespace": "geist",
        "streamIdSuffix": "adminevents",
        "description": "built-in GEIST-internal admin notification stream",
        "version": 1,
        "source": {
            "type": "pubsub",
            "config": {
                "customConfig": {
                    "emulatorPath": emulator_root,
                    "topics": [{"env": "all", "names": [topic]}],
                    "subscription": {
                        "type": "unique",
                        **({"name": subscription} if subscription else {}),
                    },
                }
            },
        },
        "transform": {
            "extractFields": [
                {
                    "fields": [
                        {"id": "eventName", "jsonPath": "name"},
                        {"id": "rawEvent", "type": "string"},
                    ]
                }
            ]
        },
        "sink": {"type": "admin"},
    }


class RegistryStreamStorage:
    """Registry-as-a-stream storage: specs persist by PUBLISHING them
    into the registry's own geist stream (registry.go:229-251), and
    boot-time fetch is sink READBACK (ExtractFromSink QueryTypeAll,
    registry.go:110-145) — the reference's bootstrap property."""

    def __init__(self, stream: Stream):
        self.stream = stream

    def persist(self, spec: Spec) -> None:
        self.stream.publish(spec.json())

    def load_all(self) -> list[str]:
        ext = self.stream.sink_extractor
        if ext is None:
            return []
        try:
            df = ext.extract_all()
        except Exception:  # first boot: sink table does not exist yet
            return []
        return [r["specData"] for r in df.select("specData").collect()]


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        env: str = "",
        registry_path: str | None = None,
        registry_mode: str = "stream",
        pre_transform_hook: PreTransformHook | None = None,
        post_transform_hook: PostTransformHook | None = None,
    ):
        self.spark = spark
        self.notifier = Notifier()
        self.pre_hook = pre_transform_hook
        self.post_hook = post_transform_hook
        self._streams: dict[str, Stream] = {}
        self._loader_factories: dict[str, LoaderFactory] = {}
        self._source_factories: dict[str, Callable] = {}
        self._supervisor = None
        self._registry_stream: Stream | None = None

        # native sinks (void natively; GCP sinks emulated as keyed tables)
        self.register_loader_factory(LoaderFactory("void", VoidLoader))
        from geist_spark.sinks.kafka import KafkaLoader

        self.register_loader_factory(
            LoaderFactory("kafka", lambda sp, s: KafkaLoader(sp, s, env=env))
        )
        from geist_spark.sinks.admin import AdminLoader

        self.register_loader_factory(
            LoaderFactory(
                "admin",
                lambda sp, s: AdminLoader(
                    sp, s, on_event=lambda _n: self.sync_from_registry()
                ),
            )
        )
        for sink_id in ("keyedTable", "bigtable", "bigquery", "firestore"):
            self.register_loader_factory(
                LoaderFactory(
                    sink_id,
                    KeyedTableLoader,
                    new_sink_extractor=lambda spark, spec: None,
                )
            )
        # registry storage: by default the registry is ITSELF a stream
        # (reference init.go:68-82 initRegistry builds the reg stream
        # before anything else); "file" keeps the plain-JSON backend
        storage = None
        if registry_path:
            if registry_mode == "stream":
                from geist_spark.spec.model import parse_spec

                self._registry_stream = self._build_stream(
                    parse_spec(registry_stream_spec(registry_path)),
                    with_hooks=False,
                )
                storage = RegistryStreamStorage(self._registry_stream)
            elif registry_mode == "file":
                from geist_spark.engine.registry import FileStorage

                storage = FileStorage(registry_path)
            else:
                raise ValueError(
                    f"registry_mode must be 'stream' or 'file', got {registry_mode!r}"
                )
        self.registry = SpecRegistry(env=env, storage=storage)
        self.registry.on_modified(self._on_registry_modified)
        # deploy every spec fetched from persistent storage — the
        # reference's Supervisor.Init createStreams for all cached
        # specs (supervisor.go:61-77)
        for spec in self.registry.all():
            if not spec.disabled:
                self._streams[spec.id] = self._build_stream(spec)

    # -- plugin API (reference entity/loader.go:12-42, extractor.go:14-62)

    def register_loader_factory(self, factory: LoaderFactory) -> None:
        self._loader_factories[factory.sink_id] = factory

    def register_source_factory(self, source_id: str, factory: Callable) -> None:
        self._source_factories[source_id] = factory

    def register_eventsim_charset(self, name: str, chars: str) -> None:
        """Custom charset for eventsim string generators (reference
        Config.AddEventSimCharset, config.go:101-110). Overrides the
        native eventsim source via the plugin mechanism so registered
        charsets reach the generator."""
        self._eventsim_charsets = getattr(self, "_eventsim_charsets", {})
        self._eventsim_charsets[name] = chars
        charsets = self._eventsim_charsets

        def factory(spark, spec):
            from geist_spark.sources.eventsim import EventSim, parse_sim_config

            cc = spec.source.custom_config or {}
            sim = EventSim(
                parse_sim_config(cc), seed=cc.get("seed"), charsets=charsets
            )
            return sim.stream(spark)

        self._source_factories["eventsim"] = factory

    # -- geist.go surface -------------------------------------------

    def register_stream(self, spec_json: str | bytes | dict) -> str:
        """Validate + version-gate + store + (re)deploy (geist.go:83-108).

        With admin sync enabled, also notify other pods over the admin
        topic (registry.go:257-279: "Registry sends an event to the
        admin stream's source entity")."""
        sid = self.registry.put(spec_json)
        spec = self.registry.get(sid)
        self.notifier.notify(
            "INFO",
            "registry",
            f"Registered spec {sid} v{spec.version if spec else '?'}",
            stream=sid,
        )
        emu = getattr(self, "_admin_emu", None)
        if emu is not None:
            import json as _json

            emu.publish(
                self._admin_topic,
                _json.dumps({"name": "specRegistered", "specId": sid}),
            )
        return sid

    def publish(self, stream_id: str, event: str | bytes) -> str:
        """Single-event synchronous ingestion (geist.go:123-145)."""
        return self._enabled_stream(stream_id).publish(event)

    def _enabled_stream(self, stream_id: str) -> Stream:
        stream = self._streams.get(stream_id)
        if stream is None:
            # disabled streams are popped from _streams on the registry
            # event, so distinguish "disabled" from "never existed" via
            # the registry (the reference returns ErrCodeStreamDisabled,
            # not not-found, geist.go:131-137)
            spec = self.registry.get(stream_id)
            if spec is not None and spec.disabled:
                raise RegistryError(f"stream {stream_id} is disabled")
            raise KeyError(f"no such stream: {stream_id}")
        if stream.spec.disabled:
            raise RegistryError(f"stream {stream_id} is disabled")
        return stream

    def process_batch(self, stream_id: str, df: DataFrame, value_col: str = "value") -> str:
        return self._streams[stream_id].process_batch(df, value_col=value_col)

    def stream(self, stream_id: str) -> Stream:
        return self._streams[stream_id]

    def metrics(self, stream_id: str) -> Metrics:
        return self._streams[stream_id].metrics


    def metrics_df(self) -> DataFrame:
        """All stream counters as a DataFrame (one row per registered
        stream) so operational monitoring is plain SQL over the same
        engine — the geist Metrics surface (geist.go Metrics())
        re-expressed Spark-first. Counters are driver-side ints; the
        frame is literal-backed (no job runs to build it)."""
        from dataclasses import astuple, fields

        from geist_spark.functions.localdf import local_df

        schema = ", ".join(["stream_id string", *(f"{f.name} long" for f in fields(Metrics))])
        rows = [(sid, *astuple(st.metrics)) for sid, st in self._streams.items()]
        return local_df(self.spark, rows, schema)

    def entities(self) -> dict[str, dict[str, bool]]:
        """Registered entity types per kind (reference geist.Entities,
        geist.go:205-209): {"extractor": {...}, "loader": {...}}."""
        native_sources = {"geistapi", "eventsim", "kafka", "file", "parquet"}
        return {
            "extractor": {
                s: True for s in (native_sources | set(self._source_factories))
            },
            "loader": {s: True for s in self._loader_factories},
        }

    def all_metrics(self) -> "dict[str, Metrics]":
        """Per-stream metrics for every registered stream (reference
        geist.Metrics, geist.go:59-66): each Stream's own counters,
        which its streaming query shares, plus the admin stream's."""
        out = {sid: stream.metrics for sid, stream in self._streams.items()}
        if self._supervisor is not None:
            for sid, ss in self._supervisor._streams.items():
                out.setdefault(sid, ss.metrics)
        return out

    def sync_from_registry(self) -> list[str]:
        """Cross-engine convergence: adopt specs registered by OTHER
        engines sharing this registry storage and (re)deploy them —
        the reference's cross-pod admin sync (supervisor.go:288-317)
        with shared registry storage in the Pub/Sub admin stream's
        role. Returns the adopted stream ids."""
        adopted = self.registry.sync()
        for sid in adopted:
            # supervisor.go:300 "Admin event received"
            self.notifier.notify(
                "INFO", "supervisor",
                f"Adopted spec {sid} from shared registry", stream=sid,
            )
        return adopted

    def enable_admin_sync(
        self,
        emulator_root: str,
        topic: str = "geist-admin-events",
        mode: str = "thread",
        poll_s: float = 0.25,
    ) -> None:
        """Event-driven cross-pod sync over the Pub/Sub admin stream —
        the reference's actual mechanism (adminspec.go:9-17): a spec
        registered on any pod publishes an AdminEvent to the shared
        admin topic; every pod holds a UNIQUE subscription and on
        receipt loads changed specs from shared registry storage and
        redeploys (supervisor.go:288-317): sync is triggered by
        notification, not by polling the registry.

        mode='thread': lightweight driver-side pull loop on the
          emulator client — no Spark query (the reference's default
          in-memory admin stream analogue).
        mode='stream': the admin stream runs as a REAL geist stream —
          the ported native AdminEventSpec (adminspec.go:19-63) through
          the pubsub-emulator DataSource into the `admin` sink; "the
          admin stream is just another stream" parity.
        """
        import threading
        import uuid as _uuid

        from geist_spark.sources.pubsub import PubSubEmulator

        if mode not in ("thread", "stream"):
            raise ValueError(f"mode must be 'thread' or 'stream', got {mode!r}")
        if getattr(self, "_admin_emu", None) is not None:
            return
        self._admin_emu = PubSubEmulator(emulator_root)
        self._admin_topic = topic
        sub = f"geist-admin-{_uuid.uuid4().hex[:12]}"
        if mode == "stream":
            from geist_spark.spec.model import parse_spec
            from geist_spark.streaming.runner import StreamingSupervisor

            spec = parse_spec(admin_event_spec(emulator_root, topic, sub))
            if self._supervisor is None:
                self._supervisor = StreamingSupervisor(
                    self.spark, env=self.registry.env
                )
            self._admin_stream = self._supervisor.deploy(
                self._build_stream(spec, with_hooks=False), self._source_factories
            )
            return
        self._stop_admin = False

        def loop() -> None:
            import time

            while not self._stop_admin:
                try:
                    if self._admin_emu.pull(topic, sub):
                        self.sync_from_registry()
                except Exception:  # storage briefly unreadable mid-write
                    pass
                time.sleep(poll_s)

        self._admin_thread = threading.Thread(
            target=loop, daemon=True, name="geist-admin-sync"
        )
        self._admin_thread.start()

    def notification_channel(self) -> Notifier:
        """The engine's operational-event channel (reference
        geist.NotificationChannel, geist.go): read `events` for history
        or `subscribe(cb)` for live delivery."""
        return self.notifier

    def validate_spec(self, spec_json: str | bytes | dict) -> Spec:
        from geist_spark.spec.model import parse_spec

        return parse_spec(spec_json)

    def get_stream_spec(self, stream_id: str) -> Spec | None:
        """geist.GetStreamSpec (geist.go surface)."""
        return self.registry.get(stream_id)

    def registered_specs(self) -> list[Spec]:
        """geist.GetRegisteredSpecs."""
        return self.registry.all()

    def start_streaming(self, stream_id: str):
        """Run the spec's Stream as a Structured Streaming query
        (eventsim / kafka / file sources). Returns the StreamingStream
        handle; the query shares the Stream's hooks, loader, executor,
        DLQ and Metrics with publish and process_batch."""
        from geist_spark.streaming.runner import StreamingSupervisor

        stream = self._enabled_stream(stream_id)
        if self._supervisor is None:
            self._supervisor = StreamingSupervisor(self.spark, env=self.registry.env)
        return self._supervisor.deploy(stream, self._source_factories)

    def streaming_stream(self, stream_id: str):
        return self._supervisor.get(stream_id) if self._supervisor else None

    def shutdown(self) -> None:
        # supervisor.go:135 "Shutting down"
        self.notifier.notify("INFO", "supervisor", "Shutting down")
        if getattr(self, "_admin_thread", None) is not None:
            self._stop_admin = True
            self._admin_thread.join(timeout=10)
            self._admin_thread = None
        # the queries first: they load through the streams' loaders
        if self._supervisor is not None:
            self._supervisor.shutdown()
        for s in self._streams.values():
            s.loader.shutdown()
        self._streams.clear()
        if self._registry_stream is not None:
            self._registry_stream.loader.shutdown()

    # -- supervisor behavior (supervisor.go:154-250, simplified to the
    #    single-driver batch path; streaming queries in streaming/) ---

    def _on_registry_modified(self, stream_id: str) -> None:
        spec = self.registry.get(stream_id)
        if spec is None or spec.disabled:
            # supervisor.go:69 "Stream %s is disabled and will not be
            # assigned to an executor"
            self.notifier.notify(
                "INFO", "supervisor",
                f"Stream {stream_id} is disabled, shutting down executor",
                stream=stream_id,
            )
            if self._supervisor is not None:
                # disabled spec stops the live query (supervisor.go:220-236)
                self._supervisor.stop(stream_id)
            old = self._streams.pop(stream_id, None)
            if old is not None:
                old.loader.shutdown()
            return
        stream = self._streams[stream_id] = self._build_stream(spec)
        # supervisor.go:170 "Created executor ... for spec with ID"
        self.notifier.notify(
            "INFO", "supervisor",
            f"Deployed executor for {stream_id} v{spec.version}",
            stream=stream_id,
        )
        if self._supervisor is not None and self._supervisor.get(stream_id) is not None:
            # version bump while a streaming query is live: replace it
            # in place (supervisor.go:237-250 upgrade path)
            self._supervisor.deploy(stream, self._source_factories)

    def _build_stream(self, spec: Spec, with_hooks: bool = True) -> Stream:
        factory = self._loader_factories.get(spec.sink.type)
        if factory is None:
            raise RegistryError(f"unknown sink type: {spec.sink.type}")
        loader = factory.create(self.spark, spec)
        return Stream(
            spark=self.spark,
            spec=spec,
            transform=compile_transform(spec),
            loader=loader,
            sink_extractor=loader if hasattr(loader, "extract_all") else None,
            # client hooks never see the internal registry stream
            pre_hook=self.pre_hook if with_hooks else None,
            post_hook=self.post_hook if with_hooks else None,
            notifier=self.notifier,
        )
