"""Round-7 verdict item 6: the no-concurrent-measurement rule is code.

Every scale runner must call scripts/_guard.assert_no_spark_jvm() at
the top of main() — a dirty box refuses (exit 3) or tags loudly.
"""
import os
import sys

import pytest

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)
sys.path.insert(0, SCRIPTS)

import _guard  # noqa: E402


@pytest.fixture(autouse=True)
def _no_grace(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_GUARD_GRACE", "0")


def test_clean_box_passes(monkeypatch):
    monkeypatch.setattr(_guard, "_live_spark_jvms", lambda: [])
    assert _guard.assert_no_spark_jvm() is True


def test_dirty_box_refuses(monkeypatch):
    monkeypatch.setattr(
        _guard, "_live_spark_jvms", lambda: ["999 java ... spark ..."]
    )
    with pytest.raises(SystemExit) as ei:
        _guard.assert_no_spark_jvm()
    assert ei.value.code == 3


def test_dirty_box_tag_mode_runs_tagged(monkeypatch, capsys):
    monkeypatch.setattr(
        _guard, "_live_spark_jvms", lambda: ["999 java ... spark ..."]
    )
    assert _guard.assert_no_spark_jvm(allow_tag=True) is False
    assert "CONTAMINATED" in capsys.readouterr().err


def test_env_tag_mode(monkeypatch, capsys):
    monkeypatch.setattr(
        _guard, "_live_spark_jvms", lambda: ["999 java ... spark ..."]
    )
    monkeypatch.setenv("SPARK_GRAFT_GUARD", "tag")
    assert _guard.assert_no_spark_jvm() is False
    assert "CONTAMINATED" in capsys.readouterr().err


def test_every_scale_runner_calls_guard():
    runners = {
        f
        for f in os.listdir(SCRIPTS)
        if f.endswith("_scale.py") or f == "isolated_remeasure.py"
    }
    assert runners == {
        "family_scale.py",
        "isolated_remeasure.py",
        "knn_recall_scale.py",
        "streaming_scale.py",
    }
    for f in runners:
        src = open(os.path.join(SCRIPTS, f)).read()
        assert "assert_no_spark_jvm()" in src, f"{f} missing guard call"


def test_pgrep_matcher_ignores_non_spark_java(monkeypatch):
    import subprocess

    class R:
        stdout = "12 java -jar something-else\n34 pgrep -fa java\n"

    monkeypatch.setattr(
        subprocess, "run", lambda *a, **k: R()
    )
    assert _guard._live_spark_jvms() == []
