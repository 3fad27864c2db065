"""TOML parsing for config/repo corpora (pyproject/Cargo/CI files).

TOML 1.0 ships in the Python 3.11 stdlib as `tomllib`, so this
operator is the full language (yamlsub.py, by contrast, is a safe
subset over libyaml's events): tables, arrays of tables, dotted keys,
all string forms, underscore/hex/oct/bin integers, floats, booleans,
arrays, inline tables, and datetimes. Rendering follows the repo's shared
deterministic-JSON dialect: compact separators, insertion order,
datetime/date/time values as ISO-8601 strings. TOMLDecodeError maps
to the malformed ValueError tier; there is no capability tier.

The DataFrame surface is the shared records stage (operators/
records.py). Reference parity: n/a (geist is JSON-only).
"""

from __future__ import annotations

import datetime
import tomllib

from pyspark.sql import DataFrame

from geist_spark.operators.records import records_stage


def _jsonable(v):
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    return v


def toml_parse(text: str):
    """One TOML document -> JSON-ready Python value."""
    try:
        return _jsonable(tomllib.loads(text))
    except tomllib.TOMLDecodeError as exc:
        raise ValueError(f"malformed TOML: {exc}") from None


def toml_records(
    files: DataFrame,
    text_col: str = "text",
    id_col: str = "file_id",
) -> DataFrame:
    """(id, toml text) -> (file_id, record_json) compact JSON."""
    return records_stage(files, toml_parse, text_col, id_col)
