"""Importing the library must not change process state."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import os
before = dict(os.environ)
import biblib_spark.session
import biblib_spark.operators.dedupe
after = dict(os.environ)
changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
assert not changed, changed
"""


def test_import_leaves_environ_unchanged():
    # a fresh interpreter: this test process has imported the modules already
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, env=env, capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr
