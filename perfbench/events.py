"""Seeded event model shared by the publish and streaming workloads,
and the reference outcome of the transform, computed in plain Python
and DuckDB (no Spark, no engine code).

Every event is a JSON object {kind, line, user, amount}. The transform
drops `kind == "drop"` (excludeEventsWith), extracts user/amount/line
and runs a field regexp over `line`; a line that does not match is an
unretryable event and goes to the DLQ (HOUE `dlq`). A passing event
leaves one sink row {user, amount, regexppayload}.
"""

from __future__ import annotations

import json
import random
import re

LINE_RE = r"^(?P<verb>[A-Z]+) (?P<path>\S+) (?P<status>\d+)$"
_LINE = re.compile(LINE_RE)

USERS = 5000  # bounded key space of the merge sink

TRANSFORM = {
    "excludeEventsWith": [{"key": "kind", "values": ["drop"]}],
    "extractFields": [
        {
            "fields": [
                {"id": "user", "jsonPath": "user", "type": "integer"},
                {"id": "amount", "jsonPath": "amount", "type": "integer"},
                {"id": "ln", "jsonPath": "line"},
            ]
        }
    ],
    "regexp": {"expression": LINE_RE, "field": "ln"},
}

EXCLUDED, REJECTED, PASSED = "excluded", "rejected", "passed"


def outcome(ev: dict) -> str:
    if ev["kind"] == "drop":
        return EXCLUDED
    return PASSED if _LINE.match(ev["line"]) else REJECTED


def payload(line: str) -> dict:
    return _LINE.match(line).groupdict()


def encode(ev: dict) -> str:
    return json.dumps(ev, separators=(",", ":"))


def spec(suffix: str, source: dict, sink: dict, dlq_path: str) -> dict:
    return {
        "namespace": "perfbench",
        "streamIdSuffix": suffix,
        "version": 1,
        "description": f"benchmark stream {suffix}",
        "source": source,
        "transform": TRANSFORM,
        "sink": sink,
        "ops": {
            "handlingOfUnretryableEvents": "dlq",
            "customProperties": {"dlqPath": dlq_path},
        },
    }


# -- publish: an explicit seeded event list -----------------------------

# One block of publishes; event i goes to the void stream when i is
# even. The first six (the untimed warm-up) give each stream every
# class. Passing events are the slowest class, and the timed part opens
# with four of them, so whether a run times 3 or 9 publishes, its median
# and p90 fall inside the passing class rather than on a class boundary.
PUBLISH_BLOCK = [PASSED, PASSED, EXCLUDED, REJECTED, REJECTED, EXCLUDED,
                 PASSED, PASSED, PASSED, PASSED, EXCLUDED, REJECTED]


def publish_events(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed)
    out = []
    for i in range(n):
        cls = PUBLISH_BLOCK[i % len(PUBLISH_BLOCK)]
        verb = rng.choice(["GET", "PUT", "POST"])
        line = f"{verb} /p/{rng.randint(0, 999)} {rng.choice([200, 201, 404, 503])}"
        if cls == REJECTED:
            line = f"malformed {rng.randint(0, 999)}"
        out.append(
            {
                "kind": "drop" if cls == EXCLUDED else "keep",
                "line": line,
                "user": rng.randint(0, USERS - 1),
                "amount": rng.randint(0, 999_999),
            }
        )
    return out


# -- streaming: an eventsim source and its replay -------------------------

_KINDS = [("keep", 9), ("drop", 1)]
_LINES = [("GET /a 200", 7), ("PUT /b/c 503", 6), ("POST /d 201", 6),
          ("bad line", 1)]


def eventsim_source(seed: int, per_batch: int) -> dict:
    """A fixed event count per micro-batch and no wall-clock fields, so
    the events of batch b are a pure function of (seed, b)."""
    pv = lambda vals: [{"value": v, "frequencyFactor": w} for v, w in vals]
    return {
        "type": "eventsim",
        "config": {
            "customConfig": {
                "simResolutionMilliseconds": 1000,
                "seed": seed,
                "eventGeneration": {
                    "type": "random",
                    "minCount": per_batch,
                    "maxCount": per_batch,
                },
                "eventSpec": {
                    "fields": [
                        {"field": "kind", "predefinedValues": pv(_KINDS)},
                        {"field": "line", "predefinedValues": pv(_LINES)},
                        {"field": "user", "randomizedValue":
                            {"type": "int", "min": 0, "max": USERS - 1}},
                        {"field": "amount", "randomizedValue":
                            {"type": "int", "min": 0, "max": 999_999}},
                    ]
                },
            }
        },
    }


def _uniform_sql(salt: int, seed: int) -> str:
    """eventsim's documented seeded draw for row id `i`: the first 13
    hex digits of md5('<i>|r|<call site>|<seed>') as a fraction of 2^52."""
    return (
        f"(('0x' || substr(md5(i::VARCHAR || '|r|{salt}|{seed}'), 1, 13))::BIGINT"
        f" / {float(1 << 52)!r})"
    )


def _pick_sql(u: str, vals: list[tuple[str, int]]) -> str:
    r = f"floor({u} * {sum(w for _, w in vals)})"
    arms, acc = [], 0
    for v, w in vals:
        acc += w
        arms.append(f"WHEN {r} < {acc} THEN '{v}'")
    return f"CASE {' '.join(arms)} END"


def _int_sql(u: str, lo: int, hi: int) -> str:
    return f"floor({u} * {hi + 1.0 - lo} + {lo})::BIGINT"


def sim_reference_sql(seed: int, per_batch: int, batches: int) -> str:
    """DuckDB replay of the events eventsim generates for source rows
    0 .. batches*per_batch-1 (draw call sites are numbered 1.. in field
    order), with each event's batch and transform outcome."""
    ok = [v for v, _ in _LINES if _LINE.match(v)]
    ok_list = ", ".join(f"'{v}'" for v in ok)
    return f"""
    SELECT i, i // {per_batch} AS batch, kind, line, "user", amount,
           CASE WHEN kind = 'drop' THEN '{EXCLUDED}'
                WHEN line IN ({ok_list}) THEN '{PASSED}'
                ELSE '{REJECTED}' END AS outcome
    FROM (
      SELECT i,
             {_pick_sql(_uniform_sql(1, seed), _KINDS)} AS kind,
             {_pick_sql(_uniform_sql(2, seed), _LINES)} AS line,
             {_int_sql(_uniform_sql(3, seed), 0, USERS - 1)} AS "user",
             {_int_sql(_uniform_sql(4, seed), 0, 999_999)} AS amount
      FROM range({batches * per_batch}) t(i)
    )"""


def line_payloads() -> list[tuple[str, str, str, str]]:
    """(line, verb, path, status) for every line eventsim can emit that
    passes the regexp."""
    return [(v, *(payload(v)[k] for k in ("verb", "path", "status")))
            for v, _ in _LINES if _LINE.match(v)]
