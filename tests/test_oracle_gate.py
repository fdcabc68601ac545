"""The oracle gate (`scripts/check_oracle_arrow.py`) run as a script: an
oracled query passes the Arrow-exact comparison, and a query without an
oracle is still built and collected (rows-only)."""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE = os.path.join(REPO, "scripts", "check_oracle_arrow.py")
#: the committed copy of the sf0.001 reference tables
SF_DIR = os.path.join(REPO, "perfbench", "data", "sf0.001")


def test_gate_checks_oracled_and_rows_only_queries():
    env = dict(os.environ)
    env["SPARK_DRIVER_MEM"] = "4g"
    res = subprocess.run(
        [sys.executable, GATE, SF_DIR, "bucket_sum", "multimodal_features"],
        env=env, capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    out = res.stdout
    assert res.returncode == 0, out + res.stderr[-4000:]
    assert re.search(r"^PASS  bucket_sum \(\d+ rows\)$", out, re.M), out
    m = re.search(
        r"^ok    multimodal_features: rows-only \((\d+) rows\)$", out, re.M
    )
    assert m and int(m.group(1)) > 0, out
