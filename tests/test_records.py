"""The shared (file_id, record_json) stage (operators/records.py)."""

import pathlib
import re

OPS = pathlib.Path(__file__).resolve().parents[1] / "geist_spark" / "operators"
DECODERS = ("msgpack.py", "pbwire.py", "tomlsub.py", "plistfile.py",
            "yamlsub.py", "records.py")


def test_one_records_stage():
    """Spark-free: the five record decoders share records_stage's one
    mapInPandas, and YAML parses on libyaml, not a line walker."""
    src = {name: (OPS / name).read_text() for name in DECODERS}
    calls = {n: s.count("mapInPandas(") for n, s in src.items()}
    assert calls == {n: int(n == "records.py") for n in DECODERS}, calls
    for name in DECODERS[:-1]:
        assert "records_stage(" in src[name], name
    yaml_src = src["yamlsub.py"]
    assert re.search(r"^import yaml$", yaml_src, re.M)
    assert "CSafeLoader" in yaml_src
    assert "_Lines" not in yaml_src
