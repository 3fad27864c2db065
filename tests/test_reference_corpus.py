"""Reference-spec conformance sweep: every spec JSON in the
reference's own test corpus (/root/reference/test/specs/*.json) must
validate VERBATIM, and the ones whose source runs in-container
(geistapi) must execute end-to-end with only a local table path
injected. This is the 'a user of the reference could switch' claim,
checked against the reference's actual spec files rather than
re-typed equivalents."""

import copy
import glob
import json
import os

import pytest

SPEC_DIR = "/root/reference/test/specs"
SPEC_FILES = sorted(glob.glob(f"{SPEC_DIR}/*.json"))


def _load(path):
    with open(path) as f:
        return json.load(f)


def test_reference_corpus_present():
    assert len(SPEC_FILES) == 11


@pytest.mark.parametrize(
    "path", SPEC_FILES, ids=[p.split("/")[-1] for p in SPEC_FILES]
)
def test_reference_spec_validates_verbatim(path):
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(_load(path))
    assert spec.id and spec.source.type and spec.sink.type


@pytest.mark.parametrize(
    "name,event",
    [
        ("apisrc-bigtablesink-minimal", {"coolField": 1, "niceField": "x"}),
        (
            "apisrc-bigtablesink-fooround",
            {
                "foo": {"evtType": "FOO_ROUND_FINISHED"},
                "bar": {"stuff": {"fooRoundId": "round-1"}},
            },
        ),
    ],
    ids=lambda v: v if isinstance(v, str) else "event",
)
def test_api_reference_specs_run_e2e(spark, name, event):
    """The geistapi-source reference specs run end-to-end: register
    verbatim (plus a local table path), publish a spec-shaped event,
    read the sink back."""
    from geist_spark.engine.api import Engine
    from geist_spark.sinks.keyed_table import new_temp_path

    path = f"{SPEC_DIR}/{name}.json"
    if not os.path.exists(path):
        pytest.skip(f"reference corpus file absent: {path}")
    raw = copy.deepcopy(_load(path))
    raw["sink"]["config"]["customConfig"]["path"] = new_temp_path()
    eng = Engine(spark)
    try:
        sid = eng.register_stream(raw)
        eng.publish(sid, json.dumps(event))
        rows = eng.stream(sid).sink_extractor.extract_all().collect()
        assert len(rows) >= 1
    finally:
        eng.shutdown()
