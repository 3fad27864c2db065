"""The one Arrow stage behind the `(file_id, record_json)` decoders.

msgpack, protobuf, TOML, plist and YAML payloads all render one
compact JSON record per input row: NULL payloads are skipped, the
JSON is `separators=(",", ":")` with `ensure_ascii=False`, and a
decoder's NotImplementedError (a capability limit) either fails the
task prefixed with `{id_col}={id}:` (`on_unsupported="error"`) or
drops the row (`"null"`). Malformed payloads (ValueError) always
fail. One mapInPandas stage, zero shuffle.
"""

from __future__ import annotations

import json
from typing import Any, Callable

from pyspark.sql import DataFrame

RECORDS_SCHEMA = "file_id long, record_json string"


def records_stage(
    files: DataFrame,
    decode: Callable[[Any], Any],
    in_col: str,
    id_col: str,
    on_unsupported: str = "error",
) -> DataFrame:
    """(id, payload) -> (file_id, record_json) via `decode(payload)`."""
    import pandas as pd

    if on_unsupported not in ("error", "null"):
        raise ValueError("on_unsupported must be 'error' or 'null'")
    skip = on_unsupported == "null"

    def run(batches):
        for pdf in batches:
            ids, out = [], []
            for fid, payload in zip(pdf[id_col], pdf[in_col]):
                if payload is None:
                    continue
                try:
                    val = decode(payload)
                except NotImplementedError as exc:
                    if skip:
                        continue
                    raise NotImplementedError(
                        f"{id_col}={fid}: {exc}"
                    ) from exc
                ids.append(fid)
                out.append(
                    json.dumps(val, separators=(",", ":"), ensure_ascii=False)
                )
            yield pd.DataFrame({"file_id": ids, "record_json": out})

    return files.mapInPandas(run, RECORDS_SCHEMA)
