"""Process-scoped scratch datasets (caching.materialized / scratch_dir):
one build per key, a rebuild once the dir is gone, and no files left
behind when the process exits.  No SparkSession needed."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import uuid

from kafka_go_cardinality_spark.caching import materialized

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_materialized_builds_once_per_key_and_rebuilds_removed_dir():
    dirs: list[str] = []

    def build(path: str) -> int:
        assert os.path.isdir(path) and not os.listdir(path)
        dirs.append(path)
        return len(dirs)

    a = ("test_caching", uuid.uuid4().hex)
    b = ("test_caching", uuid.uuid4().hex)
    assert materialized(a, build) == 1
    assert materialized(a, build) == 1
    assert materialized(b, build) == 2
    assert dirs[0] != dirs[1]
    assert os.path.dirname(dirs[0]) == os.path.dirname(dirs[1])

    shutil.rmtree(dirs[0])
    assert materialized(a, build) == 3
    assert os.path.isdir(dirs[2]) and dirs[2] != dirs[0]
    assert materialized(b, build) == 2


def test_scratch_root_removed_at_exit():
    code = (
        "from kafka_go_cardinality_spark.caching import materialized, scratch_dir\n"
        "def build(path):\n"
        "    open(path + '/part-0', 'w').write('x')\n"
        "    return path\n"
        "print(materialized(('exit', 1), build))\n"
        "print(scratch_dir())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    )
    built, fresh = out.stdout.split()
    root = os.path.dirname(built)
    assert os.path.dirname(fresh) == root
    assert os.path.basename(root).startswith("kgc_")
    assert not os.path.exists(root)
