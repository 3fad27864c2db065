"""YAML safe-subset parsing for config/repo corpora.

Repository and documentation crawls are full of YAML (CI configs,
front matter, k8s manifests, metadata sidecars). libyaml's C scanner
and parser (PyYAML's `CSafeLoader`) read the text; one pass over its
event stream builds dicts and lists on an explicit stack — no
`Composer`/`Constructor`, which recurse in Python — and renders the
repo's shared deterministic-JSON dialect:

- only PLAIN scalars are typed: `null`/`~`/empty -> null,
  `true`/`false`, `[+-]digits` -> int (`0777` -> 777) and decimal
  floats; everything else (`0x1F`, `0o17`, `1e3`, `.inf`, `Null`,
  `TRUE`, `yes`, dates) and every quoted or block scalar is a string;
- a non-string scalar key is stringified (`true:` -> "True").

Deliberate CAPABILITY limits (NotImplementedError): anchors/aliases
(the billion-laughs axis), any explicit tag (`!!int`, `!`), a plain
`<<` merge key, complex (collection) mapping keys, a second document,
and tab characters anywhere. MALFORMED (ValueError "malformed YAML"):
any libyaml error, duplicate keys, nesting deeper than 32 and an
exhausted element budget. See DIALECT.md "YAML".

The DataFrame surface is the shared records stage (operators/
records.py). Reference parity: n/a (geist is JSON-only).
"""

from __future__ import annotations

import re

import yaml
from pyspark.sql import DataFrame

from geist_spark.operators.records import records_stage

_INT_RE = re.compile(r"^[+-]?\d+$")
_FLOAT_RE = re.compile(r"^[+-]?(\d+\.\d*|\.\d+)([eE][+-]?\d+)?$")
_MAX_DEPTH = 32
_NO_KEY = object()  # a mapping frame waiting for its next key


def _err(msg: str) -> ValueError:
    return ValueError(f"malformed YAML: {msg}")


def _limit(msg: str) -> NotImplementedError:
    return NotImplementedError(f"YAML subset: {msg}")


def _scalar(tok: str):
    """Core-schema plain scalar typing."""
    if tok in ("null", "~", ""):
        return None
    if tok == "true":
        return True
    if tok == "false":
        return False
    if _INT_RE.match(tok):
        return int(tok)
    if _FLOAT_RE.match(tok):
        return float(tok)
    return tok


def yaml_parse(text: str, max_elements: int = 100_000):
    """One YAML document -> Python value (the safe subset)."""
    if "\t" in text:
        raise _limit("tab characters unsupported")
    root = None
    stack = []  # open collections: [container, pending key]
    budget = max_elements
    docs = 0
    try:
        for ev in yaml.parse(text, Loader=yaml.CSafeLoader):
            kind = type(ev)
            if kind is yaml.ScalarEvent:
                plain = not ev.style
                value = _scalar(ev.value) if plain else ev.value
            elif kind is yaml.MappingStartEvent:
                value = {}
            elif kind is yaml.SequenceStartEvent:
                value = []
            elif kind in (yaml.MappingEndEvent, yaml.SequenceEndEvent):
                stack.pop()
                continue
            elif kind is yaml.AliasEvent:
                raise _limit("anchors/aliases unsupported")
            else:
                if kind is yaml.DocumentStartEvent:
                    docs += 1
                    if docs > 1:
                        raise _limit("multi-document streams unsupported")
                continue
            if ev.anchor is not None:
                raise _limit("anchors/aliases unsupported")
            if ev.tag is not None:
                raise _limit("tags unsupported")
            if stack:
                frame = stack[-1]
                into = frame[0]
                if type(into) is dict and frame[1] is _NO_KEY:
                    if kind is not yaml.ScalarEvent:
                        raise _limit("complex mapping keys unsupported")
                    if plain and ev.value == "<<":
                        raise _limit("merge keys unsupported")
                    key = str(value)
                    if key in into:
                        raise _err(f"duplicate mapping key {key!r}")
                    frame[1] = key
                    continue
                budget -= 1
                if budget <= 0:
                    raise _err("element budget exceeded")
                if type(into) is list:
                    into.append(value)
                else:
                    into[frame[1]] = value
                    frame[1] = _NO_KEY
            else:
                root = value
            if kind is not yaml.ScalarEvent:
                if len(stack) == _MAX_DEPTH:
                    raise _err(f"nesting deeper than {_MAX_DEPTH}")
                stack.append([value, _NO_KEY])
    except yaml.YAMLError as exc:
        raise _err(" ".join(str(exc).split())) from None
    return root


def yaml_records(
    files: DataFrame,
    text_col: str = "text",
    id_col: str = "file_id",
    max_elements: int = 100_000,
    on_unsupported: str = "error",
) -> DataFrame:
    """(id, yaml text) -> (file_id, record_json) compact JSON."""
    return records_stage(
        files,
        lambda text: yaml_parse(text, max_elements),
        text_col,
        id_col,
        on_unsupported,
    )
