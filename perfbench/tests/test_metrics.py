"""The benchmark's metric contract: BENCHMARK.json lists exactly the
metrics ``layers.py`` defines, the traced run reports every per-layer
metric, and the command refuses to run without the program."""

import json
import os
import shutil
import subprocess
import sys

import layers
import ledger
import run as bench
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def test_benchmark_json_is_layers_definition():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == layers.benchmark_json()
    assert [w["name"] for w in layers.WORKLOADS] == list(workloads.WORKLOADS)
    assert set(layers.MOVES) == {m["name"] for m in layers.benchmark_json()["per_layer"]}


class _Sess:
    get_session_s = 0.2

    def codegen_fallbacks(self):
        return 1


def test_traced_metrics_cover_every_per_layer_name():
    with open(os.path.join(HERE, "fixtures", "eventlog.jsonl")) as f:
        events = f.readlines()
    led = ledger.Ledger()
    led.spans = [
        {"module": "similarity", "op": "ann_topk_bruteforce:build", "group": "g1",
         "start_ms": 1792200699300, "end_ms": 1792200701000, "s": 1.7},
        {"module": "similarity", "op": "ann_topk_bruteforce:exec", "group": None,
         "start_ms": 1792200701000, "end_ms": 1792200703000, "s": 2.0},
    ]
    r = workloads.Run()
    r.extra["wall_s"] = 3.7
    m = bench.per_layer(_Sess(), led, r, events)
    assert list(m) == [name for name, *_ in layers.PER_LAYER]
    assert m["session.get_session_s"]["value"] == 0.2
    assert m["similarity.build_s"]["value"] == 1.7
    assert m["similarity.jobs"]["value"] == 7
    assert m["spark.codegen_fallbacks"]["value"] == 1
    assert m["trace.wall_s"]["value"] == 3.7


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.dirname(HERE), tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_backup", "--seed", "1",
         "--seconds", "30", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_untimed_stretches_leave_wall_cpu_and_units():
    ticks = iter(range(0, 1000, 10))  # the probe's CPU counter advances 10 per read
    run = workloads.Run(lambda: {"cpu_s": float(next(ticks))}, lambda: {"peak_rss_mb": 7.0})
    run.begin()  # cpu 0
    with run.unit():  # cpu 10
        with run.untimed():  # reads 20 and 30: 10 excluded
            pass
    # unit ends at 40: 30 spent, 10 of them untimed
    run.end()  # cpu 50: 50 spent, 10 untimed
    assert run.unit_cpu == [20.0]
    assert run.extra["cpu_s"] == 40.0
    assert run.extra["peak_rss_mb"] == 7.0


def test_reference_jobs_are_left_out_of_the_timed_run():
    cpu = [0.0]

    def probe():
        cpu[0] += 1.0  # every read of the probe costs one CPU second
        return {"cpu_s": cpu[0]}

    def ref():
        cpu[0] += 100.0
        return 100.0

    run = workloads.Run(probe, ref=ref)
    run.begin()
    run.reference()
    run.end()
    assert run.refs == [100.0]
    assert run.extra["cpu_s"] == 2.0  # two probe reads, not the job


def test_scratch_dirs_made_during_a_run_are_removed(tmp_path):
    import tempfile

    real = tempfile.mkdtemp
    with bench._Mkdtemps():
        made = tempfile.mkdtemp(prefix="scratch_", dir=tmp_path)
        assert os.path.isdir(made)
    assert not os.path.exists(made)
    assert tempfile.mkdtemp is real
