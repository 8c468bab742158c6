"""Scratch directories: one root per process, gone when the process exits."""

import json
import os
import shutil
import subprocess
import sys

from blog_snapshotbackup_azuredatalake_spark import scratch
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Records every directory tempfile.mkdtemp makes under the scratch root,
# calls scratch_dir and one streaming entry, and prints the paths as JSON.
_CHILD = """
import json, os, sys, tempfile
from blog_snapshotbackup_azuredatalake_spark import scratch
from blog_snapshotbackup_azuredatalake_spark.session import get_session
from blog_snapshotbackup_azuredatalake_spark.streaming.entries import (
    stream_incr_sync,
)

spark = get_session("scratch-exit", shuffle_partitions=2)
made = []
real = tempfile.mkdtemp

def mkdtemp(*args, **kwargs):
    path = real(*args, **kwargs)
    made.append(path)
    return path

tempfile.mkdtemp = mkdtemp
made.append(scratch.scratch_dir("exit_test_"))
assert stream_incr_sync(spark, sys.argv[1]).count() > 0
print(json.dumps(made))
"""


def test_scratch_is_removed_when_the_process_exits():
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, SF_DIR],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    made = json.loads(out.stdout.strip().splitlines()[-1])
    assert any("exit_test_" in p for p in made), made
    assert any("stream_incr_sync_" in p for p in made), made
    left = [p for p in made if os.path.exists(p)]
    assert not left, left


def test_scratch_root_is_made_again_after_removal(monkeypatch, tmp_path):
    # a root of its own under tmp_path: the session's root, which holds
    # other tests' lazily read directories, is left alone
    monkeypatch.setattr(scratch, "_root", None)
    monkeypatch.setattr(scratch, "scratch_root", lambda: str(tmp_path))
    first = scratch.scratch_dir("again_")
    root = os.path.dirname(first)
    assert os.path.dirname(root) == str(tmp_path), root
    assert os.path.basename(root).startswith("scratch_"), root
    shutil.rmtree(root)
    second = scratch.scratch_dir("again_")
    assert os.path.isdir(second)
    with scratch.scratch_store("again_") as store:
        assert os.path.dirname(store) == os.path.dirname(second)
    shutil.rmtree(second)
