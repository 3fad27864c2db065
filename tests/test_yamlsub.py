"""YAML safe-subset parser (operators/yamlsub.py): one pass over
libyaml's events, rendered in the repo's JSON dialect."""

import json

import pytest

from geist_spark.operators.yamlsub import yaml_parse, yaml_records


def test_full_surface():
    y = (
        "# comment\n"
        "name: build-42\n"
        "version: 1.2\n"
        "enabled: true\n"
        "thresholds:\n  low: 10\n  high: 20\n"
        'tags: [a, b, "c d"]\n'
        "flowmap: {x: 1, y: two}\n"
        "steps:\n"
        "  - run: make test\n    timeout: 30\n"
        "  - run: make lint\n"
        "matrix:\n  - 1\n  - 2\n"
        "note: 'it''s quoted'\n"
        "script: |\n  line one\n  line two\n"
        "folded: >\n  fold these\n  words\n"
        "nothing:\n"
    )
    assert yaml_parse(y) == {
        "name": "build-42", "version": 1.2, "enabled": True,
        "thresholds": {"low": 10, "high": 20},
        "tags": ["a", "b", "c d"], "flowmap": {"x": 1, "y": "two"},
        "steps": [{"run": "make test", "timeout": 30},
                  {"run": "make lint"}],
        "matrix": [1, 2], "note": "it's quoted",
        "script": "line one\nline two\n",
        "folded": "fold these words\n", "nothing": None,
    }


def test_document_markers_and_scalar_doc():
    assert yaml_parse("---\na: 1\n...\n") == {"a": 1}
    assert yaml_parse("just a scalar\n") == "just a scalar"
    assert yaml_parse("") is None
    assert yaml_parse("- - x\n- y\n") == [["x"], "y"]


def test_capability_limits():
    for bad in ("a: &x 1", "a: *x", "a: !!int 3", "<<: *base",
                "---\na: 1\n---\nb: 2", "a:\n\tb: 1",
                "a: ! 3", "[&a 1, *a]", "? [a]\n: 1", "x: \t1"):
        with pytest.raises(NotImplementedError):
            yaml_parse(bad)


def test_malformed():
    for bad in ("a: 'unterminated", 'a: "bad \\q escape"', "a: [1,2",
                "a: 1\na: 2", "a: 1\n  b: orphan", "{weird}: 1",
                "{a: 1, a: 2}"):
        with pytest.raises((ValueError, NotImplementedError)):
            yaml_parse(bad)
    with pytest.raises(ValueError, match="budget"):
        yaml_parse("\n".join(f"k{i}: 1" for i in range(50)),
                   max_elements=10)


def test_block_scalar_chomping():
    assert yaml_parse("s: |-\n  a\n  b\n")["s"] == "a\nb"
    assert yaml_parse("s: |\n  a\n\n  b\n")["s"] == "a\n\nb\n"
    assert yaml_parse("s: >-\n  a\n  b\n")["s"] == "a b"


def test_plain_scalar_typing_and_keys():
    """Only plain scalars are typed, by the core rules below; a
    non-string scalar key is stringified; a quoted '<<' is a key."""
    typed = {"null": None, "~": None, "": None, "true": True,
             "false": False, "0777": 777, "-3": -3, "+4": 4,
             "1.5": 1.5, ".5": 0.5, "3.": 3.0, "-1.5e+3": -1500.0}
    for tok, want in typed.items():
        assert yaml_parse(f"a: {tok}") == {"a": want}, tok
    for tok in ("0o17", "0x1F", "1e3", ".inf", ".nan", "Null", "TRUE",
                "yes", "2024-01-01", '"1"', "'true'", '""'):
        want = tok.strip("'\"")
        assert yaml_parse(f"a: {tok}") == {"a": want}, tok
    assert yaml_parse('a: "\\x41"') == {"a": "A"}
    assert yaml_parse("true: 1\n1: 2\n~: 3\n1.5: 4\n") == {
        "True": 1, "1": 2, "None": 3, "1.5": 4}
    assert yaml_parse("'<<': 1") == {"<<": 1}


def test_deep_nesting_is_malformed_not_recursion():
    """The cap is 32 open collections, flow or block; deeper input
    stops at the 33rd without recursing."""
    assert yaml_parse("[" * 32 + "]" * 32) is not None
    block = "".join(" " * i + f"k{i}:\n" for i in range(5000)) + " " * 5000 + "k: v\n"
    for bad in ("[" * 100_000, "{a: " * 50_000, block, "- " * 20_000 + "x",
                "[" * 33 + "]" * 33):
        with pytest.raises(ValueError, match="deeper than 32"):
            yaml_parse(bad)


def test_spark_surface(spark):
    rows = yaml_records(
        spark.createDataFrame(
            [(1, "a: 1\nb: [x, y]\n"), (2, None)],
            "file_id long, text string",
        )
    ).collect()
    assert len(rows) == 1
    assert json.loads(rows[0]["record_json"]) == {"a": 1, "b": ["x", "y"]}


def test_spark_surface_limit_policy(spark):
    """A capability limit fails the task with the row's id by default,
    and on_unsupported='null' drops just that row."""
    files = spark.createDataFrame(
        [(1, "a: 1\n"), (2, "a: &x 1\n"), (3, None)],
        "file_id long, text string",
    )
    rows = yaml_records(files, on_unsupported="null").collect()
    assert [(r["file_id"], r["record_json"]) for r in rows] == [(1, '{"a":1}')]
    with pytest.raises(Exception, match="file_id=2: YAML subset"):
        yaml_records(files).collect()
    with pytest.raises(ValueError, match="on_unsupported"):
        yaml_records(files, on_unsupported="skip")
