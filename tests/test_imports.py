"""Import isolation: the engine's control plane loads no decoder."""

import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]

PROBE = """
import json, sys
import geist_spark
from geist_spark import Engine
import geist_spark.streaming.runner
print(json.dumps(sorted(
    m for m in sys.modules
    if m.startswith(("geist_spark.operators", "pandas", "yaml"))
)))
"""


def test_control_plane_loads_no_operator_pandas_or_yaml():
    """Importing geist_spark, its Engine and the streaming runner
    leaves geist_spark.operators.*, pandas and yaml unloaded, so
    stream setup time does not depend on the decoder modules."""
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=ROOT, capture_output=True,
        text=True, check=True,
    ).stdout
    assert json.loads(out.strip().splitlines()[-1]) == []
