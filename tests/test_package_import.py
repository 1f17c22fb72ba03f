"""Importing the package must have no process-wide side effects: no
environment variable exported to the JVM and its workers, no sys.path
entry, and no third-party module stub made importable."""

import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json, os, sys
sys.path.insert(0, {root!r})
path_before = list(sys.path)
google_before = "google" in sys.modules
import daily_journal_dataflow_qc_spark  # noqa: F401
print(json.dumps({{
    "pythonpath": os.environ.get("PYTHONPATH"),
    "path_added": [p for p in sys.path if p not in path_before],
    "google_before": google_before,
    "google_after": "google" in sys.modules,
}}))
"""


def test_package_import_has_no_process_wide_side_effects():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", _CHILD.format(root=REPO_ROOT)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["pythonpath"] is None
    assert got["path_added"] == []  # e.g. no vendored runtime directory
    assert not got["google_before"]
    assert not got["google_after"]
