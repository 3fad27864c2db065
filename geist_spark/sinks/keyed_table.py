"""Keyed-table sink: one emulation covering the reference's BigTable /
BigQuery / Firestore sink semantics on plain parquet.

Covered semantics (reference citations):
- row key = delimiter-joined field values
  (test/specs/kafkasrc-bigtablesink-multitable-session.json:96-179)
- `@GeistIngestionTime` pseudo-column (entity/spec.go:29)
- `insertIdFromId` per-batch dedup
  (test/specs/kafkasrc-bigquerysink-fooevents.json:124)
- `maxVersions` GC policy -> keep-last-N per key on readback
  (kafkasrc-bigtablesink-multitable-session.json:117-121)

Scale notes: appends are partitioned parquet writes (no shuffle);
readback keep-last-N is a window per key — at 100 TB the table should
be partitioned by key range/date and the window runs partition-local
after AQE; the hot path (stream_load) never shuffles.

writeMode="merge" (round 6) upserts per micro-batch WITHOUT a
full-table rewrite: the table is laid out in `mergeBuckets` key-hash
partitions (__key_bucket = pmod(xxhash64(row_key), n)); each batch
reads ONLY the buckets its keys touch (partition-pruned scan), merges
batch+existing keeping the newest maxVersions (default 1) rows per
key, and dynamically overwrites just those bucket partitions. Cost is
O(touched buckets), not O(table) — a streaming CDC feed whose batch
touches k buckets rewrites k/n of the table per trigger. Point
lookups (extract_key_value) fold the key's bucket id to a literal so
the scan prunes to one partition. Crash mid-overwrite can leave a
subset of buckets updated; replaying the batch re-merges to the same
fixed point when rows carry stable ingestion times (ts ties keep the
incoming copy), so retries converge instead of duplicating.

deleteWhen (round 7) adds CDC tombstones to merge mode: batch rows
matching the predicate become persistent deletion markers — the key's
older rows are dropped during the bucket merge, the marker stays
physical (hidden on readback) so late out-of-order upserts cannot
resurrect the key, and it ages out once maxVersions newer rows exist
(the bigtable deletion-marker/compaction contract). The mergeBuckets
layout pin and the first-batch probe go through the Hadoop FileSystem
API, so both work on hdfs://s3a:// table URIs, not just local paths.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from geist_spark.sinks.base import Loader, SinkError, SinkExtractor
from geist_spark.spec.model import GEIST_INGESTION_TIME, Spec

ROW_KEY_COL = "__row_key"
INGESTION_TS_COL = "__geist_ingestion_time"
KEY_BUCKET_COL = "__key_bucket"
DELETED_COL = "__deleted"


class KeyedTableLoader(Loader, SinkExtractor):
    def __init__(self, spark: SparkSession, spec: Spec):
        self.spark = spark
        self.spec = spec
        cfg = spec.sink.custom_config or {}
        self.path = cfg.get("path") or spec.sink.prop("path")
        if not self.path:
            raise SinkError(f"keyed_table sink for {spec.id} needs a 'path'")
        self.key_fields: list[str] = cfg.get("rowKeyFields") or []
        self.delimiter: str = cfg.get("rowKeyDelimiter", "#")
        self.insert_id_field: str | None = cfg.get("insertIdFromId")
        self.max_versions: int | None = cfg.get("maxVersions")
        # per-table whitelist on a field (bigtable multi-table specs,
        # kafkasrc-bigtablesink-multitable-session.json:109-115)
        self.whitelist: dict | None = cfg.get("whitelist")
        # dynamic column names from field values (bigquery nameFromId,
        # kafkasrc-bigquerysink-fooevents.json:106-114): per-row names
        # land in one MapType column name->value
        self.dynamic_columns: list[dict] = cfg.get("dynamicColumns") or []
        # effectively-once under at-least-once replay: each micro-batch
        # writes its own epoch partition with dynamic overwrite, so a
        # replayed epoch replaces itself instead of appending twice;
        # synchronous loads (epoch_id None) append
        self.epoch_idempotent: bool = bool(cfg.get("epochIdempotent", False))
        # writeMode="merge": per-batch key upsert over a key-hash
        # bucket layout (module docstring) — maxVersions-aware
        self.write_mode: str = cfg.get("writeMode", "append")
        self.merge_buckets: int = int(cfg.get("mergeBuckets", 64))
        # deleteWhen: SQL boolean over batch columns marking a change
        # row as a TOMBSTONE — the key's older rows are dropped during
        # the bucket merge and the marker persists (hidden on
        # readback) so late out-of-order upserts cannot resurrect the
        # key. Mirrors relational.cdc_apply's delete_when.
        self.delete_when: str | None = cfg.get("deleteWhen")
        if self.write_mode not in ("append", "merge"):
            raise SinkError(
                f"keyed_table sink for {spec.id}: unknown writeMode "
                f"{self.write_mode!r} (append|merge)"
            )
        if self.write_mode == "merge":
            if not self.key_fields:
                raise SinkError(
                    f"keyed_table sink for {spec.id}: writeMode=merge "
                    "requires rowKeyFields"
                )
            if self.epoch_idempotent:
                raise SinkError(
                    f"keyed_table sink for {spec.id}: epochIdempotent and "
                    "writeMode=merge are mutually exclusive layouts "
                    "(epoch partitions vs key-bucket partitions)"
                )
            if self.merge_buckets < 1:
                raise SinkError(
                    f"keyed_table sink for {spec.id}: mergeBuckets must "
                    "be >= 1"
                )
        if self.delete_when and self.write_mode != "merge":
            raise SinkError(
                f"keyed_table sink for {spec.id}: deleteWhen requires "
                "writeMode=merge (append mode has no row to delete)"
            )

    def stream_load(self, df: DataFrame, epoch_id: int | None = None) -> str:
        out = df
        if self.whitelist:
            wl_col = F.col(self.whitelist["id"]).cast("string")
            out = out.filter(wl_col.isin([str(v) for v in self.whitelist["values"]]))
        for dc in self.dynamic_columns:
            nf = dc.get("nameFromId") or {}
            name = F.concat(
                F.lit(nf.get("prefix", "")),
                F.col(nf["suffixFromId"]).cast("string"),
            )
            preset = nf.get("preset")
            if preset:
                name = F.when(
                    F.col(nf["suffixFromId"]).cast("string").isin(
                        [str(p) for p in preset]
                    ),
                    name,
                )  # non-preset names -> NULL entry key dropped below
            entry = F.when(
                name.isNotNull(),
                F.create_map(name, F.col(dc["valueFromId"]).cast("string")),
            ).otherwise(F.create_map().cast("map<string,string>"))
            alias = dc.get("alias", "__dynamic")
            if alias in out.columns:
                out = out.withColumn(alias, F.map_concat(F.col(alias), entry))
            else:
                out = out.withColumn(alias, entry)
        if self.key_fields:
            out = out.withColumn(
                ROW_KEY_COL,
                F.concat_ws(self.delimiter, *[F.col(k).cast("string") for k in self.key_fields]),
            )
        if self.insert_id_field and self.insert_id_field in out.columns:
            out = out.dropDuplicates([self.insert_id_field])
        if GEIST_INGESTION_TIME in [f for f in out.columns]:
            out = out.withColumnRenamed(GEIST_INGESTION_TIME, INGESTION_TS_COL)
        if INGESTION_TS_COL not in out.columns:
            out = out.withColumn(INGESTION_TS_COL, F.current_timestamp())
        if self.epoch_idempotent:
            # a synchronous load (no epoch) has no replay: it appends to
            # the NULL-epoch partition, which no epoch overwrite touches
            (
                out.withColumn("__epoch", F.lit(epoch_id).cast("long"))
                .write.mode("append" if epoch_id is None else "overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__epoch")
                .parquet(self.path)
            )
        elif self.write_mode == "merge":
            self._merge_write(out)
        else:
            out.write.mode("append").parquet(self.path)
        return os.path.basename(self.path.rstrip("/"))

    def _bucket_of(self, key_col: F.Column) -> F.Column:
        return F.pmod(
            F.xxhash64(key_col), F.lit(self.merge_buckets)
        ).cast("int")

    _MERGE_META_FILE = "_merge_buckets"

    # -- filesystem access goes through the Hadoop FileSystem API, NOT
    # os.path: the table path may be hdfs:// or s3a:// on a cluster,
    # where a local-only probe would silently skip the split-brain
    # guard exactly where tables are most likely to be reconfigured --

    def _fs(self):
        """(FileSystem, Path factory) for self.path's scheme."""
        jvm = self.spark._jvm
        make_path = jvm.org.apache.hadoop.fs.Path
        fs = make_path(self.path).getFileSystem(
            self.spark.sparkContext._jsc.hadoopConfiguration()
        )
        return fs, make_path

    def _table_exists(self) -> bool:
        fs, make_path = self._fs()
        return bool(fs.exists(make_path(self.path)))

    def _meta_path(self, make_path):
        return make_path(self.path.rstrip("/") + "/" + self._MERGE_META_FILE)

    def _read_meta(self) -> tuple[int | None, bool]:
        """(pinned bucket count | None, table-has-deletion-markers).
        Sidecar format: first token = bucket count; the literal token
        'markers' on a later line records that some file in the table
        carries the __deleted column (see _table_frame)."""
        fs, make_path = self._fs()
        meta = self._meta_path(make_path)
        if not fs.exists(meta):
            return None, False
        stream = fs.open(meta)
        try:
            raw = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        toks = raw.split()
        return int(toks[0]), "markers" in toks[1:]

    def _write_meta(self, markers: bool) -> None:
        fs, make_path = self._fs()
        out = fs.create(self._meta_path(make_path), True)
        try:
            body = str(self.merge_buckets) + ("\nmarkers" if markers else "")
            out.write(bytearray(body.encode()))
        finally:
            out.close()

    def _check_merge_meta(self, ensure_markers: bool = False) -> bool:
        """mergeBuckets is a PHYSICAL layout parameter: a table written
        with n buckets and merged/read with m leaves stale rows
        stranded in never-touched partitions (silent split-brain, the
        same failure class the embedding-index metadata guard closes).
        The bucket count is pinned in a sidecar file at first write
        (underscore-prefixed: parquet readers skip it) and validated
        before every merge and pruned point lookup — via the Hadoop
        FileSystem API so the pin travels with the table on any
        scheme, not just the local FS. `ensure_markers` additionally
        records that the table now carries deletion-marker files.
        Returns whether the table carries markers."""
        stored, markers = self._read_meta()
        if stored is not None:
            if stored != self.merge_buckets:
                raise SinkError(
                    f"keyed_table {self.spec.id}: table at {self.path} was "
                    f"written with mergeBuckets={stored} but the sink is "
                    f"configured with mergeBuckets={self.merge_buckets} — "
                    "rewrite the table or restore the original setting"
                )
            if ensure_markers and not markers:
                self._write_meta(True)
                markers = True
        else:
            fs, make_path = self._fs()
            if fs.exists(make_path(self.path)):
                self._write_meta(ensure_markers)
                markers = ensure_markers
        return markers

    def _table_frame(self) -> DataFrame:
        """Read the merge table with a MARKER-COMPLETE schema, without
        per-call footer merging. A table can mix files written before
        and after deleteWhen was configured; plain parquet inference
        picks ONE arbitrary footer, so the __deleted column could
        silently vanish (markers surface as live rows and later merges
        resurrect deleted keys), while option(mergeSchema) would read
        EVERY file's footer on every streaming trigger — O(table), the
        cost class merge mode exists to avoid. Instead the sidecar
        records whether any file carries markers; when it does and the
        inferred schema lacks the column, ONE re-read with the widened
        explicit schema fills missing columns with NULL (coalesced to
        false at every use site)."""
        df = self.spark.read.parquet(self.path)
        _, markers = self._read_meta()
        if (
            (markers or self.delete_when)
            and DELETED_COL not in df.columns
        ):
            df = self.spark.read.schema(
                df.schema.add(DELETED_COL, "boolean")
            ).parquet(self.path)
        return df

    def _merge_write(self, out: DataFrame) -> None:
        """Key-merge one micro-batch into the bucket-partitioned table:
        union the batch with ONLY its touched bucket partitions, keep
        the newest `maxVersions` (default 1 = pure upsert) rows per
        key, then dynamically overwrite just those partitions.

        Replay convergence: versions are keyed by (row key, ingestion
        time) — first a per-(key, ts) dedup keeps ONE copy (incoming
        preferred), then the keep-last-N window orders by ts desc. A
        replayed batch therefore converges for ANY maxVersions: the
        incoming copy replaces its stored twin instead of stacking a
        duplicate that would evict a genuine older version. Rows
        needing distinct versions must carry distinct ingestion times
        (the reference's bigtable cell-timestamp contract).

        Tombstones (deleteWhen): batch rows matching the configured
        predicate become DELETION MARKERS — after the (key, ts) dedup,
        every row of the key strictly OLDER than the newest marker is
        dropped, and the marker itself persists (hidden on readback)
        so a late out-of-order upsert replayed in a LATER batch cannot
        resurrect the key. A marker is superseded by newer upserts the
        usual way: it competes for the keep-last-N version slots and
        ages out of the table once `keep` newer rows exist (the
        bigtable compaction contract for deletion markers).

        The batch pipeline gets a LAZY local checkpoint before the
        touched-bucket probe: the probe's own job materializes it, so
        source transforms run once, not once for the probe and again
        for the merge. The merged frame gets a second lazy checkpoint,
        materialized by the write job, because Spark refuses to
        overwrite a path it still reads from. On the first batch (no
        table, no probe) the write job materializes both. Both
        checkpoints are micro-batch + touched-buckets sized, never the
        table.
        """
        self._check_merge_meta(ensure_markers=bool(self.delete_when))
        if self.delete_when:
            out = out.withColumn(
                DELETED_COL,
                F.coalesce(
                    F.expr(self.delete_when).cast("boolean"), F.lit(False)
                ),
            )
        # LAZY checkpoint: the touched-bucket probe below is a full
        # materialization (distinct over every partition, no limit), so
        # the batch lands in stored blocks inside the probe's own job —
        # one driver action per batch instead of two. On the first
        # batch (no table yet, no probe) the write job materializes the
        # chain in full instead, through the merged frame's lazy
        # checkpoint below; no consumer between here and there can
        # partially materialize it.
        out = out.withColumn(
            KEY_BUCKET_COL, self._bucket_of(F.col(ROW_KEY_COL))
        ).localCheckpoint(eager=False)
        keep = self.max_versions or 1
        merged = out.withColumn("__incoming", F.lit(1))
        # Explicit existence probe (Hadoop FS, any scheme): ONLY a
        # missing table means "first batch". Any read failure below
        # (transient FS error, corrupt footer) must abort: proceeding
        # would dynamically overwrite touched buckets with the batch
        # alone, silently deleting every other key.
        if self._table_exists():
            # marker-complete schema without per-trigger footer merging
            # (_table_frame) — a single-footer inference could silently
            # drop __deleted and resurrect deleted keys
            existing = self._table_frame()
            # bounded probe: touched bucket ids (<= mergeBuckets values)
            touched = [
                r[0] for r in out.select(KEY_BUCKET_COL).distinct().collect()
            ]
            ex = existing.filter(
                F.col(KEY_BUCKET_COL).isin(touched)
            ).withColumn("__incoming", F.lit(0))
            # marker column may exist on either side only (legacy table
            # + new deleteWhen config, or the reverse): fill with false
            if DELETED_COL in merged.columns and DELETED_COL not in ex.columns:
                ex = ex.withColumn(DELETED_COL, F.lit(False))
            if DELETED_COL in ex.columns and DELETED_COL not in merged.columns:
                merged = merged.withColumn(DELETED_COL, F.lit(False))
            merged = ex.unionByName(merged)
        # (key, ts) dedup tie order: a deletion marker beats an upsert
        # at the SAME timestamp (deterministic, conservative — an
        # upsert-preferred or arbitrary tie would let a replayed/
        # same-second upsert silently erase a tombstone and resurrect
        # the key); among rows of the same kind, incoming beats stored
        wv_order = [F.col("__incoming").desc()]
        if DELETED_COL in merged.columns:
            wv_order.insert(
                0, F.coalesce(F.col(DELETED_COL), F.lit(False)).desc()
            )
        wv = Window.partitionBy(ROW_KEY_COL, INGESTION_TS_COL).orderBy(
            *wv_order
        )
        w = Window.partitionBy(ROW_KEY_COL).orderBy(
            F.col(INGESTION_TS_COL).desc()
        )
        merged = merged.withColumn("__c", F.row_number().over(wv)).filter(
            F.col("__c") == 1
        )
        if DELETED_COL in merged.columns:
            # newest marker per key kills everything strictly older;
            # the unordered max-window shares the keep-last-N window's
            # key exchange
            is_del = F.coalesce(F.col(DELETED_COL), F.lit(False))
            del_ts = F.max(
                F.when(is_del, F.col(INGESTION_TS_COL))
            ).over(Window.partitionBy(ROW_KEY_COL))
            merged = merged.withColumn("__del_ts", del_ts).filter(
                F.col("__del_ts").isNull()
                | (F.col(INGESTION_TS_COL) >= F.col("__del_ts"))
            ).drop("__del_ts")
        # LAZY checkpoint, materialized by the write job itself: the
        # checkpoint exists because Spark refuses to overwrite a path
        # its plan still reads from, and truncating to a LogicalRDD
        # satisfies that check whether or not the RDD is computed yet.
        # The parquet write is a FULL-scan action (every partition
        # computed exactly once, no CollectLimit short-circuit — the
        # repo's lazy-checkpoint fusion precondition), and dynamic
        # partition overwrite only deletes replaced files at job
        # COMMIT, after every task has finished reading the old
        # buckets. One driver action per batch instead of two.
        merged = (
            merged.withColumn("__v", F.row_number().over(w))
            .filter(F.col("__v") <= keep)
            .drop("__c", "__v", "__incoming")
            .localCheckpoint(eager=False)
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(KEY_BUCKET_COL)
            .parquet(self.path)
        )
        # pin the layout (+ marker presence) at first write
        self._check_merge_meta(ensure_markers=bool(self.delete_when))

    # -- readback (ExtractFromSink, entity/extractor.go:114-132) -----

    def _read(self, key: str | None = None) -> DataFrame:
        if self.write_mode == "merge":
            # marker-complete schema (sidecar-driven, no footer sweep):
            # a loader WITHOUT deleteWhen reading a table that carries
            # markers must still hide them
            df = self._table_frame()
        else:
            df = self.spark.read.parquet(self.path)
        if key is not None:
            df = df.filter(F.col(ROW_KEY_COL) == key)
            if KEY_BUCKET_COL in df.columns:
                # a pruned lookup with the wrong bucket count would
                # silently miss rows — validate the layout first
                self._check_merge_meta()
                # xxhash64(lit) constant-folds, so this prunes the
                # scan to the key's single bucket partition
                df = df.filter(
                    F.col(KEY_BUCKET_COL) == self._bucket_of(F.lit(key))
                )
        if self.max_versions:
            w = Window.partitionBy(ROW_KEY_COL).orderBy(F.col(INGESTION_TS_COL).desc())
            df = (
                df.withColumn("__v", F.row_number().over(w))
                .filter(F.col("__v") <= self.max_versions)
                .drop("__v")
            )
        if DELETED_COL in df.columns:
            # deletion markers persist physically (they block late
            # out-of-order resurrections) but are never user-visible
            df = df.filter(
                ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            ).drop(DELETED_COL)
        if KEY_BUCKET_COL in df.columns:
            df = df.drop(KEY_BUCKET_COL)  # internal layout detail
        return df

    def extract_all(self) -> DataFrame:
        return self._read()

    def extract_key_value(self, key: str) -> DataFrame:
        # partition-prunable equality filter on the key column (plus
        # bucket-id pruning on merge-layout tables)
        return self._read(key=key)

    def extract_composite_key_value(self, parts: dict[str, str]) -> DataFrame:
        """QueryTypeCompositeKeyValue (entity/extractor.go:114-132):
        equality on individual row-key components rather than the
        concatenated key — any subset of rowKeyFields."""
        df = self._read()
        for field, value in parts.items():
            if field not in self.key_fields:
                raise SinkError(
                    f"{field} is not a row-key field of {self.spec.id} "
                    f"(row key: {self.key_fields})"
                )
            df = df.filter(F.col(field).cast("string") == str(value))
        return df


def new_temp_path(base: str = "/tmp/geist_spark_tables") -> str:
    os.makedirs(base, exist_ok=True)
    return os.path.join(base, uuid.uuid4().hex)
