"""Per-process scratch directories (``queries.registry.scratch_dir``):
one root per process, removed when the process exits. Runs plain
subprocesses; no SparkSession is started."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

_CHILD = """
import os
from ug_dwh_etl_spark.queries.registry import scratch_dir

p = scratch_dir("lifetime", "/data/sf1")
assert scratch_dir("other").rsplit(os.sep, 1)[0] == p.rsplit(os.sep, 2)[0]
os.makedirs(p)
open(os.path.join(p, "f"), "w").close()
print(os.getpid(), p)
"""


def test_scratch_roots_are_per_process_and_removed_at_exit(tmp_path):
    roots = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, "-c", _CHILD],
            cwd=REPO,
            env={**os.environ, "TMPDIR": str(tmp_path)},
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
        pid, path = out[0], pathlib.Path(out[1])
        rel = path.relative_to(tmp_path)
        root = tmp_path / rel.parts[0]
        assert len(rel.parts) == 3 and rel.parts[1] == "lifetime"
        assert pid not in os.sep.join(rel.parts[1:]) and not root.name.endswith(f"_{pid}")
        assert not root.exists(), f"{root} outlived its process"
        roots.append(root)
    assert roots[0] != roots[1]
    assert list(tmp_path.iterdir()) == []
