"""Import boundary of the pipeline: loading the streaming driver and the
analytics operators pulls in no operator module outside the pipeline's own
(cleanse, sessionize, analytics) and no pandas. Runs in a fresh
interpreter, so nothing another test imported leaks into ``sys.modules``;
no Spark session is started."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, sys
import clickestream_project_bigdata_spark.streaming
import clickestream_project_bigdata_spark.operators.analytics
print(json.dumps(sorted(sys.modules)))
"""


def test_pipeline_imports_no_corpus_operators_and_no_pandas():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=_REPO_ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    loaded = set(json.loads(out.splitlines()[-1]))
    pkg = "clickestream_project_bigdata_spark.operators."
    assert "clickestream_project_bigdata_spark.streaming" in loaded
    operators = {m[len(pkg):] for m in loaded if m.startswith(pkg)}
    assert "analytics" in operators
    assert operators <= {"analytics", "cleanse", "sessionize"}, operators
    assert not any(m == "pandas" or m.startswith("pandas.") for m in loaded)
