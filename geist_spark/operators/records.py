"""The one Arrow stage behind the binary-decoder family.

Every decoder of an `(id, payload)` column (images, audio, video
probes, archives, documents, crawl records, Avro/SQLite files and the
`(file_id, record_json)` decoders: msgpack, protobuf, TOML, plist,
YAML) hands this module a `decode(payload) -> rows` body and gets one
`mapInPandas` stage back: per-batch Python boundary, zero shuffle,
partitioning preserved. The stage owns the two-tier error contract,
stated here once:

- A capability limit (a format, codec or variant this environment
  cannot decode) is a `NotImplementedError` from `decode`. Under
  `on_unsupported="error"` (the default) the task fails with the
  message prefixed `{id_col}={id}: `; under `"null"` the payload takes
  the NULL shape below.
- Malformed input of a supported format is a `ValueError` and always
  fails the task, whatever `on_unsupported` says.
- A NULL payload takes the NULL shape: one row of the id and all-NULL
  columns for the 1:1 decoders, no row for the fan-out decoders (one
  row per record, page, member, message...).

A payload's rows come from one materialised list, so its output is
all-or-nothing: a capability limit found mid-payload never leaves a
partial fan-out behind.
"""

from __future__ import annotations

import functools
import json
from typing import Any, Callable, Iterable, Sequence

from pyspark.sql import DataFrame, types as T

RECORDS_SCHEMA = "file_id long, record_json string"

# compact JSON, non-ASCII kept raw: the family's record_json dialect
to_json = functools.partial(
    json.dumps, separators=(",", ":"), ensure_ascii=False
)


def check_policy(
    on_unsupported: str, modes: Sequence[str] = ("error", "null")
) -> None:
    """Reject an `on_unsupported` value outside `modes`."""
    if on_unsupported not in modes:
        allowed = ", ".join(repr(m) for m in modes[:-1])
        raise ValueError(f"on_unsupported must be {allowed} or {modes[-1]!r}")


def payload_stage(
    df: DataFrame,
    decode: Callable[..., Iterable[tuple]],
    schema: T.StructType | str,
    on_unsupported: str = "error",
    *,
    in_col: str = "payload",
    id_col: str = "media_id",
    null_row: bool = True,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """(id, payload) -> `schema` rows: the id, then each tuple of
    `decode(payload, *extras)`, which gets the row's `extra_cols`
    values too. `null_row` picks the NULL shape (one all-NULL row, or
    none for a fan-out decoder); see the module docstring."""
    import pandas as pd

    check_policy(on_unsupported)
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    cols = schema.fieldNames()
    null = [(None,) * (len(cols) - 1)] if null_row else []
    skip = on_unsupported == "null"

    def rows_of(rid: Any, payload: Any, extras: tuple) -> list:
        if payload is None:
            return null
        try:
            return list(decode(payload, *extras))
        except NotImplementedError as exc:
            if skip:
                return null
            raise NotImplementedError(f"{id_col}={rid}: {exc}") from exc

    def run(batches):
        for pdf in batches:
            out: dict = {c: [] for c in cols}
            ids, vals = out[cols[0]], [out[c] for c in cols[1:]]
            for rid, payload, *extras in zip(
                pdf[id_col], pdf[in_col], *(pdf[c] for c in extra_cols)
            ):
                for row in rows_of(rid, payload, extras):
                    ids.append(rid)
                    for col, v in zip(vals, row):
                        col.append(v)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema)


def records_stage(
    files: DataFrame,
    decode: Callable[[Any], Any],
    in_col: str,
    id_col: str,
    on_unsupported: str = "error",
) -> DataFrame:
    """(id, payload) -> (file_id, record_json): one compact JSON
    record per non-NULL payload, `to_json(decode(payload))`."""
    return payload_stage(
        files, lambda p: [(to_json(decode(p)),)], RECORDS_SCHEMA,
        on_unsupported, in_col=in_col, id_col=id_col, null_row=False,
    )
