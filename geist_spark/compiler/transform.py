"""Spec -> DataFrame transform compiler (the engine core).

The reference interprets the transform spec per event
(entity/transform/transformer.go:41-84). Here the spec compiles ONCE
into Catalyst column expressions applied to a whole DataFrame — batch
and Structured Streaming share the compiled plan.

Design for scale — two deliberate plan shapes:

1. SINGLE PARSE. Every plain JSON path used anywhere in the spec
   (filters, dispatch predicates, extracted fields) is collected into
   one nested `from_json` schema with StringType leaves (whose
   coercion matches gjson exactly: number->"87", object->raw JSON
   text, missing->null). The event is parsed ONCE into a `__parsed`
   struct column; K field extractions then cost K struct accesses, not
   K full JSON parses (get_json_object parses per call). gjson query
   paths (`#(...)`) and conflicting prefix paths fall back to
   get_json_object.

2. SINGLE PASS. `route()` is ONE projection over the single parse:
   it tags every event ok / excluded / error (exclusion filters and
   the regexp error condition are evaluated once, in that outcome
   column) and carries the records of ok events and the raw value of
   error events. A spec with K extract blocks is NOT a K-way union (K
   source scans): every block is a nullable struct in ONE array that
   the `records()` view explodes; a single-block spec keeps flat
   columns, so its view is a filter + select. One scan, one parse, no
   shuffle, codegen end to end. Per-event record order (block order)
   is preserved, matching the reference's append order
   (transformer.go:151-175). The engine persists one routed frame per
   micro-batch and feeds the sink (`records()`) and the DLQ
   (`errors()`) from it, so no event is scanned or parsed twice.

Semantics replicated exactly (citations into /root/reference):
- excludeEventsWith black/white/empty, OR across filters
  (entity/transform/transformer.go:86-149)
- excludeEventsWithMultipleConditions, AND within / OR across
  (transformer.go:55-63,115-122)
- forEventsWith equality dispatch with number->string matching
  (transformer.go:272-300; the reference loop keeps the last filter's
  verdict — we implement the documented AND semantics, identical for
  all well-formed specs incl. the whole reference test corpus)
- extractFields with gjson zero-value coercion: missing string -> "",
  missing int/float -> 0, missing bool -> false
  (transformer.go:302-334); event split: every matching block appends
  one record
- extractItemsFromArray -> map {itemId: rawItemJson}, empty ids
  dropped (transformer.go:336-359)
- regexp named groups -> alphabetically-key-ordered JSON under
  "regexppayload" (Go map marshal order, transformer.go:260-265),
  applied to the raw event or to a previously extracted field (first
  applicable block declaring it; field dropped unless keepField;
  transformer.go:201-226). Non-matching events are ERRORS
  (transformer.go:229-242): outcome `error`, read through `errors()`,
  not silently empty — the engine applies the spec's HOUE policy
  (discard/dlq/fail).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Row, functions as F, types as T

from geist_spark.functions.json_path import (
    _split_gjson,
    json_col,
    spark_type_for,
)
from geist_spark.functions.timeconv import convert_time
from geist_spark.spec.model import (
    ExcludeEventsWith,
    ForEventsWith,
    Spec,
    SpecError,
    TransformSpec,
)

REGEXP_PAYLOAD_KEY = "regexppayload"
PARSED_COL = "__geist_parsed"
# route() columns: the per-row outcome, the raw value of error rows and
# the record array of multi-block specs
OUTCOME_COL = "__geist_outcome"
RAW_COL = "__geist_raw"
RECS_COL = "__geist_recs"
OUTCOME_OK, OUTCOME_EXCLUDED, OUTCOME_ERROR = "ok", "excluded", "error"


# ---------------------------------------------------------------- resolver


class JsonResolver:
    """Resolves gjson paths to columns: struct access on the shared
    single-parse column when possible, get_json_object fallback
    otherwise."""

    def __init__(
        self,
        value: Column,
        parsed: Column | None,
        resolvable: frozenset[tuple[str, ...]],
    ):
        self.value = value
        self._parsed = parsed
        self._resolvable = resolvable

    def col(self, gpath: str) -> Column:
        """NULL when missing; scalar literal text / raw JSON otherwise."""
        if self._parsed is not None:
            keys = _plain_keys(gpath)
            if keys is not None and keys in self._resolvable:
                c = self._parsed
                for k in keys:
                    c = c.getField(k)
                return c
        return json_col(self.value, gpath)

    def str(self, gpath: str) -> Column:
        """gjson .String(): missing -> ''."""
        return F.coalesce(self.col(gpath), F.lit(""))


def _plain_keys(gpath: str) -> tuple[str, ...] | None:
    """Key tuple if the path is plain dotted keys; None otherwise."""
    try:
        segs = _split_gjson(gpath)
    except Exception:
        return None
    if all(s.kind == "key" for s in segs):
        return tuple(s.key for s in segs)
    return None


def _as_resolver(value: Column | JsonResolver) -> JsonResolver:
    if isinstance(value, JsonResolver):
        return value
    return JsonResolver(value, None, frozenset())


# ---------------------------------------------------------------- filters


def exclude_condition(
    value: Column | JsonResolver, filters: list[ExcludeEventsWith]
) -> Column:
    """True -> exclude. OR across filter objects (transformer.go:86-113).

    Per filter: valueIsEmpty first, then blacklist (values), else
    whitelist (valuesNotIn); missing field coerces to ""."""
    res = _as_resolver(value)
    cond = F.lit(False)
    for flt in filters:
        v = res.str(flt.key)
        this = F.lit(False)
        if flt.value_is_empty:
            this = this | (v == "")
        if flt.values:
            this = this | v.isin(flt.values)
        elif flt.values_not_in:
            this = this | ~v.isin(flt.values_not_in)
        cond = cond | this
    return cond


def multi_exclude_condition(
    value: Column | JsonResolver, multi: list[list[ExcludeEventsWith]]
) -> Column:
    """OR across items; AND within an item's filters (transformer.go:115-122)."""
    res = _as_resolver(value)
    cond = F.lit(False)
    for filters in multi:
        item = F.lit(True)
        for flt in filters:
            item = item & exclude_condition(res, [flt])
        cond = cond | item
    return cond


def applicable_condition(
    value: Column | JsonResolver,
    few: list[ForEventsWith],
    excludes: list[ExcludeEventsWith] | None = None,
) -> Column:
    """forEventsWith dispatch: AND of equality checks; missing field ->
    not applicable; numeric fields match their string form
    (transformer.go:272-300)."""
    res = _as_resolver(value)
    cond = F.lit(True)
    for kf in few:
        got = res.col(kf.key)  # null == missing
        cond = cond & got.isNotNull() & (got == kf.value)
    if excludes:
        cond = cond & ~exclude_condition(res, excludes)
    return cond


# ---------------------------------------------------------------- helpers


def _typed_extract(res: JsonResolver, json_path: str, spec_type: str) -> Column:
    """One extractFields field -> typed column with gjson zero-value
    semantics (transformer.go:302-334)."""
    t = (spec_type or "string").lower()
    if not json_path:
        # raw-event field: the whole event. Reference yields []byte
        # unless type=="string" (transformer.go:361-368); both are
        # StringType here.
        return res.value
    raw = res.col(json_path)
    if t == "string":
        return F.coalesce(raw, F.lit(""))
    if t in ("int", "integer"):
        return F.coalesce(raw.cast(T.LongType()), F.lit(0))
    if t in ("float", "number"):
        # "number" is the reference's generic numeric (gjson float64)
        return F.coalesce(raw.cast(T.DoubleType()), F.lit(0.0))
    if t in ("bool", "boolean"):
        return F.coalesce(raw.cast(T.BooleanType()), F.lit(False))
    if t == "isotimestamp":
        return F.to_timestamp(raw)
    if t == "unixtimestamp":
        return F.timestamp_millis(F.coalesce(raw.cast(T.LongType()), F.lit(0)))
    if t == "useragent":
        # JVM-native compile of the UA heuristic matrix (ua.py
        # docstring states the parity bounds); ua_udf remains the
        # byte-exact Python twin for tails the expression can't cover
        from geist_spark.functions.ua import ua_json_expr

        return ua_json_expr(F.coalesce(raw, F.lit("")))
    if t == "urlnormalize":
        # engine extension (same pattern as userAgent's typed parse):
        # RFC 3986 canonicalization in pure codegen; non-URL values
        # take the string zero-value "" per gjson coercion rules
        from geist_spark.operators.web import normalize_url

        return F.coalesce(normalize_url(raw), F.lit(""))
    raise SpecError(f"unknown extract field type: {spec_type}")


def _go_regex_to_java(expr: str) -> tuple[str, list[str]]:
    """RE2 named-group pattern -> Java pattern + ordered group names.

    Named groups become plain capture groups (group i+1): Java
    restricts group-name charsets, and the reference itself zips ALL
    submatches against the named-group list (transformer.go:243-247),
    i.e. specs use named groups exclusively."""
    names = re.findall(r"\(\?P?<([^>]+)>", expr)
    java = re.sub(r"\(\?P?<[^>]+>", "(", expr)
    return java, names


# ---------------------------------------------------------------- compiler


class CompiledTransform:
    """`route(df)` tags every event ok / excluded / error in one pass;
    `records()` is its happy path, `errors()` the rows the reference
    errors on (regexp non-match / time-conversion failure). `apply(df)`
    and `rejected(df)` are the same two views over a fresh route."""

    def __init__(self, spec: TransformSpec):
        self.spec = spec
        self._analyze()

    # -- analysis (once, no Spark objects kept across applies) -------

    def _analyze(self) -> None:
        t = self.spec
        self.has_excludes = bool(t.exclude_events_with or t.exclude_multi)
        rx = t.regexp
        self._rx = rx
        if rx is not None:
            self._rx_java, self._rx_names = _go_regex_to_java(rx.expression)
            if rx.field and not t.extract_fields:
                raise SpecError(f"regexp field {rx.field} requires extractFields")

        # merged output schema: (id, type) in first-seen block order
        merged: dict[str, T.DataType] = {}

        def add(fid: str, ftype: T.DataType) -> None:
            if fid in merged and merged[fid] != ftype:
                raise SpecError(
                    f"field {fid} has conflicting types across blocks: "
                    f"{merged[fid]} vs {ftype}"
                )
            merged.setdefault(fid, ftype)

        self._declaring: list[int] = []  # extract-block idxs declaring rx.field
        for i, ef in enumerate(t.extract_fields):
            for f in ef.fields:
                if rx is not None and not rx.keep_field and f.id == rx.field:
                    # consumed by regexp; dropped unless another
                    # non-declaring path emits it (per-row null when
                    # multiple declaring blocks exist)
                    if len(t.extract_fields) > 1:
                        add(f.id, spark_type_for(f.type if f.json_path else "string"))
                else:
                    add(f.id, spark_type_for(f.type if f.json_path else "string"))
            if rx is not None and rx.field and any(
                f.id == rx.field for f in ef.fields
            ):
                self._declaring.append(i)
        for ia in t.extract_items_from_array:
            add(ia.id, T.MapType(T.StringType(), T.StringType()))
        if rx is not None and (
            rx.field or not (t.extract_fields or t.extract_items_from_array)
        ):
            add(REGEXP_PAYLOAD_KEY, T.StringType())

        self.output_fields: list[tuple[str, T.DataType]] = list(merged.items())
        self.output_schema = T.StructType(
            [T.StructField(n, ty, True) for n, ty in self.output_fields]
        )

        self._build_parse_tree()

    def _collect_paths(self) -> list[str]:
        t = self.spec
        paths: list[str] = []
        for flt in t.exclude_events_with:
            paths.append(flt.key)
        for m in t.exclude_multi:
            paths.extend(flt.key for flt in m.filters)
        for ef in t.extract_fields:
            paths.extend(kf.key for kf in ef.for_events_with)
            paths.extend(flt.key for flt in ef.exclude_events_with)
            paths.extend(f.json_path for f in ef.fields if f.json_path)
        for ia in t.extract_items_from_array:
            paths.extend(kf.key for kf in ia.for_events_with)
            if ia.items.json_path_to_array:
                paths.append(ia.items.json_path_to_array)
        return paths

    def _build_parse_tree(self) -> None:
        """Single-parse schema: all plain paths as StringType leaves in
        one nested StructType; prefix conflicts and case-insensitive
        sibling collisions fall back to get_json_object."""
        key_paths = {
            kp for p in self._collect_paths() if (kp := _plain_keys(p)) is not None
        }
        internal: set[tuple[str, ...]] = set()
        for p in key_paths:
            for i in range(1, len(p)):
                internal.add(p[:i])
        resolvable = {p for p in key_paths if p not in internal}

        def children(prefix: tuple[str, ...]) -> list[str]:
            seen: list[str] = []
            for p in sorted(resolvable):
                if len(p) > len(prefix) and p[: len(prefix)] == prefix:
                    k = p[len(prefix)]
                    if k not in seen:
                        seen.append(k)
            return seen

        dropped: set[tuple[str, ...]] = set()

        def build(prefix: tuple[str, ...]) -> T.StructType:
            fields = []
            kids = children(prefix)
            lowered = [k.lower() for k in kids]
            for k in kids:
                full = prefix + (k,)
                if lowered.count(k.lower()) > 1:
                    # case-insensitive sibling collision: Spark struct
                    # access couldn't disambiguate -> fallback
                    dropped.update(p for p in resolvable if p[: len(full)] == full)
                    continue
                if full in resolvable:
                    fields.append(T.StructField(k, T.StringType()))
                else:
                    fields.append(T.StructField(k, build(full)))
            return T.StructType(fields)

        schema = build(()) if resolvable else None
        resolvable -= dropped
        self._parse_schema = schema if resolvable else None
        self._resolvable = frozenset(resolvable)

    # -- expression builders (per apply, bound to the value column) --

    def _prepare(
        self, df: DataFrame, value_col: str, keep_cols: tuple[str, ...]
    ) -> tuple[JsonResolver, DataFrame]:
        value = F.col(value_col)
        if self._parse_schema is None:
            return JsonResolver(value, None, frozenset()), df
        cols = [F.col(c) for c in keep_cols if c != value_col]
        cols.append(value)
        cols.append(F.from_json(value, self._parse_schema).alias(PARSED_COL))
        pre = df.select(*cols)
        return (
            JsonResolver(F.col(value_col), F.col(PARSED_COL), self._resolvable),
            pre,
        )

    def _exclude_cond(self, res: JsonResolver) -> Column:
        t = self.spec
        cond = F.lit(False)
        if t.exclude_events_with:
            cond = cond | exclude_condition(res, t.exclude_events_with)
        if t.exclude_multi:
            cond = cond | multi_exclude_condition(
                res, [m.filters for m in t.exclude_multi]
            )
        return cond

    def _rx_payload(self, src: Column) -> Column:
        rx, names, java = self._rx, self._rx_names, self._rx_java
        tc = rx.time_conversion
        vals: dict[str, Column] = {}
        for i, name in enumerate(names):
            v = F.regexp_extract(src, java, i + 1)
            if tc is not None and name == tc.field:
                v = convert_time(v, tc.input_format, tc.output_format or None)
            vals[name] = v
        # Go marshals map keys alphabetically (transformer.go:260-265)
        return F.to_json(F.struct(*[vals[n].alias(n) for n in sorted(names)]))

    def _rx_fail(self, src: Column) -> Column:
        rx, names, java = self._rx, self._rx_names, self._rx_java
        fail = ~src.rlike(java)
        tc = rx.time_conversion
        if tc is not None:
            conv = convert_time(
                F.regexp_extract(src, java, names.index(tc.field) + 1),
                tc.input_format,
                None,
            )
            fail = fail | conv.isNull()
        return fail

    def _branches(self, res: JsonResolver) -> list[tuple[Column, dict[str, Column]]]:
        """-> [(applicable, {field id: expr})] in block order."""
        t = self.spec
        rx = self._rx
        out: list[tuple[Column, dict[str, Column]]] = []

        declaring_apps: list[Column] = []  # earlier declaring blocks' applicability
        for i, ef in enumerate(t.extract_fields):
            app = applicable_condition(res, ef.for_events_with, ef.exclude_events_with)
            cols = {
                f.id: _typed_extract(res, f.json_path, f.type) for f in ef.fields
            }
            if rx is not None and rx.field and i in self._declaring:
                src = cols[rx.field]
                # only the FIRST applicable declaring block carries the
                # payload for a given event (transformer.go:207-226)
                first = F.lit(True)
                for earlier in declaring_apps:
                    first = first & ~earlier
                cols[REGEXP_PAYLOAD_KEY] = F.when(first, self._rx_payload(src))
                if not rx.keep_field:
                    if len(t.extract_fields) == 1:
                        del cols[rx.field]
                    else:
                        cols[rx.field] = F.when(first, F.lit(None)).otherwise(src)
                declaring_apps.append(app)
            out.append((app, cols))

        for ia in t.extract_items_from_array:
            arr = F.from_json(
                res.col(ia.items.json_path_to_array),
                T.ArrayType(T.StringType()),
            )
            idf = ia.items.id_from_item_fields

            def _entry(delim: str, flds: list[str]):
                # nb: F.transform passes (elem, idx) to 2-arg lambdas,
                # so capture spec values via this factory instead
                def inner(x: Column) -> Column:
                    return F.struct(
                        F.concat_ws(
                            delim,
                            *[F.coalesce(json_col(x, fld), F.lit("")) for fld in flds],
                        ).alias("key"),
                        x.alias("value"),
                    )

                return inner

            entries = F.transform(arr, _entry(idf.delimiter, idf.fields))
            item_map = F.map_from_entries(F.filter(entries, lambda e: e["key"] != ""))
            out.append(
                (
                    applicable_condition(res, ia.for_events_with),
                    {
                        ia.id: F.coalesce(
                            item_map,
                            F.from_json(
                                F.lit("{}"),
                                T.MapType(T.StringType(), T.StringType()),
                            ),
                        )
                    },
                )
            )

        if rx is not None and not rx.field and not out:
            # regexp over the raw event, no extract blocks
            out.append((F.lit(True), {REGEXP_PAYLOAD_KEY: self._rx_payload(res.value)}))
        return out

    def _error_cond(self, res: JsonResolver) -> Column | None:
        """Rows the reference's Transform() returns an error for."""
        rx = self._rx
        if rx is None:
            return None
        t = self.spec
        # a NULL event is empty bytes, so every row gets an outcome
        raw = F.coalesce(res.value, F.lit(""))
        if not rx.field:
            # applyRegExp always runs on the raw event (even when its
            # payload would be discarded, transformer.go:179-198)
            return self._rx_fail(raw)
        # field mode: fail on the field bytes of the first applicable
        # declaring block; if no block matched at all -> "field not
        # extracted" error; if blocks matched but none declares the
        # field -> regexp runs on the raw event (transformer.go:201-226)
        chain: Column | None = None
        other_app = F.lit(False)  # any applicable non-declaring block
        for i, ef in enumerate(t.extract_fields):
            app = applicable_condition(res, ef.for_events_with, ef.exclude_events_with)
            if i not in self._declaring:
                other_app = other_app | app
                continue
            f = next(f for f in ef.fields if f.id == rx.field)
            cond = self._rx_fail(_typed_extract(res, f.json_path, f.type))
            chain = F.when(app, cond) if chain is None else chain.when(app, cond)
        if len(self._declaring) < len(t.extract_fields):
            fallback = self._rx_fail(raw)
            chain = (
                F.when(other_app, fallback) if chain is None
                else chain.when(other_app, fallback)
            )
        # no extract output at all -> "wanted field was not extracted"
        return chain.otherwise(F.lit(True))

    # -- public ------------------------------------------------------

    def route(
        self,
        df: DataFrame,
        value_col: str = "value",
        keep_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Every input row, once, with its outcome: ONE projection over
        ONE `from_json` (module docstring, SINGLE PASS).

        Columns, in this order: `keep_cols`, OUTCOME_COL (ok /
        excluded / error), RAW_COL (the raw value, error rows only),
        then the records of ok rows: the output fields for a
        single-block spec, else RECS_COL, the array of the row's
        records in block order. `records()` and `errors()` are the two
        views; a caller that needs both persists the routed frame once
        and reads both views from it."""
        res, pre = self._prepare(df, value_col, keep_cols)
        branches = self._branches(res)
        has_rec = F.lit(False)
        for app, _ in branches:
            has_rec = has_rec | app
        oc = F.when(has_rec, F.lit(OUTCOME_OK)).otherwise(F.lit(OUTCOME_EXCLUDED))
        err = self._error_cond(res)
        if err is not None:
            oc = F.when(err, F.lit(OUTCOME_ERROR)).otherwise(oc)
        if self.has_excludes:
            oc = F.when(self._exclude_cond(res), F.lit(OUTCOME_EXCLUDED)).otherwise(oc)
        # the outcome is its own projection: the record and raw-value
        # guards below read it as a column instead of re-deriving the
        # exclusion / regexp conditions per guard
        mid = pre.withColumn(OUTCOME_COL, oc)
        ok = F.col(OUTCOME_COL) == OUTCOME_OK

        def record(cols: dict[str, Column]) -> list[tuple[str, Column]]:
            return [
                (fid, cols[fid].cast(ftype) if fid in cols else F.lit(None).cast(ftype))
                for fid, ftype in self.output_fields
            ]

        if len(branches) == 1:
            # one block emits at most one record per event: flat
            # columns, no Generate, so the records() view is a plain
            # filter + select in one WholeStageCodegen span
            rec_cols = [
                F.when(ok, c).alias(name) for name, c in record(branches[0][1])
            ]
        elif branches:
            structs = [
                F.when(app, F.struct(*[c.alias(name) for name, c in record(cols)]))
                for app, cols in branches
            ]
            rec_cols = [
                F.when(ok, F.filter(F.array(*structs), lambda r: r.isNotNull())).alias(RECS_COL)
            ]
        else:
            rec_cols = []  # excludes-only spec: the reference emits no records
        return mid.select(
            *[F.col(c) for c in keep_cols],
            F.col(OUTCOME_COL),
            F.when(F.col(OUTCOME_COL) == OUTCOME_ERROR, F.col(value_col)).alias(RAW_COL),
            *rec_cols,
        )

    def records(self, routed: DataFrame) -> DataFrame:
        """Happy-path view of a routed frame: one row per emitted
        record (event-split events emit several rows, in block order),
        after the kept columns."""
        keep, recs = _split(routed)
        if RECS_COL in recs:
            # a non-ok row's record array is NULL -> explode emits no row
            return routed.select(*keep, F.explode(RECS_COL).alias("__rec")).select(
                *keep, "__rec.*"
            )
        if recs:
            return routed.filter(F.col(OUTCOME_COL) == OUTCOME_OK).drop(OUTCOME_COL, RAW_COL)
        return routed.select(*keep).limit(0)

    def errors(self, routed: DataFrame, value_col: str = "value") -> DataFrame:
        """Rejected view of a routed frame: the kept columns and the raw
        value (as `value_col`) of every row the reference errors on
        (HOUE routing)."""
        return routed.filter(F.col(OUTCOME_COL) == OUTCOME_ERROR).select(
            *_split(routed)[0], F.col(RAW_COL).alias(value_col)
        )

    def row_records(self, row: Row) -> list[dict]:
        """The records of one collected routed row, as dicts."""
        if row[OUTCOME_COL] != OUTCOME_OK:
            return []
        if RECS_COL in row.__fields__:
            return [r.asDict(recursive=True) for r in row[RECS_COL]]
        return [{fid: row[fid] for fid, _ in self.output_fields}]

    def apply(
        self,
        df: DataFrame,
        value_col: str = "value",
        keep_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Happy-path output (the records() view of route())."""
        return self.records(self.route(df, value_col, keep_cols))

    def rejected(self, df: DataFrame, value_col: str = "value") -> DataFrame:
        """Original rows the reference would error on (the errors() view
        of route())."""
        keep = tuple(c for c in df.columns if c != value_col)
        return self.errors(self.route(df, value_col, keep), value_col).select(*df.columns)


def _split(routed: DataFrame) -> tuple[list[str], list[str]]:
    """(kept columns, record columns) of a routed frame: the columns
    before its outcome column, and those after its raw-value column."""
    cols = routed.columns
    i = cols.index(OUTCOME_COL)
    return cols[:i], cols[i + 2 :]


def compile_transform(spec: Spec | TransformSpec) -> CompiledTransform:
    t = spec.transform if isinstance(spec, Spec) else spec
    return CompiledTransform(t)
