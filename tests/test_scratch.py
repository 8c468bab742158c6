"""Scratch directories: one root per process, gone when the process exits."""

import json
import os
import shutil
import signal
import subprocess
import sys

from blog_snapshotbackup_azuredatalake_spark import scratch
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Records every directory tempfile.mkdtemp makes under the scratch root,
# calls scratch_dir and one streaming entry, ships the package zip to the
# workers, and prints the paths and the zip's path as JSON.
_CHILD = """
import json, os, sys, tempfile
from blog_snapshotbackup_azuredatalake_spark import scratch, session
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
session.ensure_package_on_workers(spark)
made.append(session._pkg_zip)
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
    assert made[-1].endswith(".zip") and os.path.isabs(made[-1]), made
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


# Makes its scratch root under argv[1] and prints it; then kills itself
# with SIGKILL (argv[2] == "kill"), so no exit hook runs, or waits for
# stdin to close and exits normally.
_ROOT_CHILD = """
import os, signal, sys
from blog_snapshotbackup_azuredatalake_spark import scratch
scratch.scratch_root = lambda: sys.argv[1]
print(os.path.dirname(scratch.scratch_dir("child_")), flush=True)
if sys.argv[2] == "kill":
    os.kill(os.getpid(), signal.SIGKILL)
sys.stdin.read()
"""


def test_roots_of_killed_processes_are_removed(monkeypatch, tmp_path):
    def child(mode):
        return subprocess.Popen(
            [sys.executable, "-c", _ROOT_CHILD, str(tmp_path), mode],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            env=dict(os.environ, PYTHONPATH=REPO),
            cwd=REPO,
        )

    live = child("live")
    try:
        live_root = live.stdout.readline().strip()
        killed = child("kill")
        dead_root = killed.stdout.readline().strip()
        assert killed.wait(timeout=120) == -signal.SIGKILL
        assert os.path.isdir(dead_root) and os.path.isdir(live_root)
        monkeypatch.setattr(scratch, "_root", None)
        monkeypatch.setattr(scratch, "scratch_root", lambda: str(tmp_path))
        own_root = os.path.dirname(scratch.scratch_dir("fresh_"))
        assert not os.path.exists(dead_root), dead_root
        assert os.path.isdir(live_root) and os.path.isdir(own_root)
    finally:
        live.communicate("", timeout=120)
    assert live.returncode == 0
    assert not os.path.exists(live_root), live_root
    shutil.rmtree(own_root)
