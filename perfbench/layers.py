"""Metric definitions of the benchmark, and what each per-layer metric
should move.

``BENCHMARK.json`` at the repository root is ``benchmark_json()``; a test
keeps the two equal. Print it with ``python3 perfbench/layers.py``.

End-to-end metrics are measured with tracing off, on every workload.
``BENCHMARK.json`` gates three of them. A bound is at most 0.25, and
should be at least three times the metric's quartile spread (as a share
of the median) over ten seeds:

* ``cpu_rel``: CPU time (user plus system) that the driver Python
  process, the JVM and its Python workers spent during the timed run,
  less the JVM's JIT compiler threads (``cpu_s``), divided by the mean
  CPU time of a reference job (``ref_cpu_s``): a fixed Spark job that
  calls no program code, run in the same session at the start of the
  timed run, after each unit of work and at its end, outside the timed
  stretches. It is the compute a run costs, counted in reference jobs.
  On a shared host ``cpu_s`` follows how busy the host is: two sets of
  ten runs elsewhere gave it quartile spreads of 0.34-0.41, and runs here
  with memory-bound load beside them read up to 18% more. The reference
  jobs run on the same host at the same time and move with it, so the
  ratio cancels most of that. Bound 0.24, just under ``setup_s``'s.
  The VM has no hardware counters to count instructions instead.
* ``peak_rss_mb``: peak resident memory (VmHWM) of the driver Python
  process plus the JVM, read when the timed run ends, before the checks
  that follow it. Inputs are generated in a child process, so their
  generation does not count. The heap is pinned (``-Xms`` =
  ``SPARK_DRIVER_MEM``) and its young generation fixed (``-Xmn``), so
  the JVM's part is that young generation, the old generation the
  program fills, and the JVM's own non-heap memory. Spread
  0.007-0.021, bound 0.1.
* ``setup_s``: seconds from process start to a session made by
  ``get_session`` (which starts the JVM) that has read every input table
  once, less input generation. One cold set-up per run: a second one
  would cost another 11-15 s a run. Spread 0.06-0.16; its bound, 0.25,
  applies to the median over runs.

The report line before the result prints these and every other
end-to-end number by name, unit and sample count: ``wall_s`` (the timed
run), ``op_p50_s`` (median unit of work), ``daily_backup_p50_s``,
``full_backup_s``, ``restore_p50_s`` and ``space_amp`` on
``lake_backup``, ``entry_p50_s`` on ``registry_sweep``, ``fail_ratio``,
and the CPU split ``op_cpu_p50_s``, ``jit_cpu_s`` and ``steal_s`` (CPU
time the host gave to other guests during the run). Why each is not
gated:

* Every end-to-end metric of ``BENCHMARK.json`` has to be reported,
  non-zero, by every workload. ``space_amp``, ``daily_backup_p50_s``,
  ``full_backup_s`` and ``restore_p50_s`` exist on ``lake_backup`` only
  (``registry_sweep`` writes no backup store), and ``entry_p50_s`` on
  ``registry_sweep`` only.
* Wall-clock times move with ``steal_s`` as well as the host's speed.
  Ten seeds gave quartile spreads of 0.08-0.16 for ``wall_s`` and
  0.06-0.33 for ``op_p50_s`` (which is ``daily_backup_p50_s`` on
  ``lake_backup`` and ``entry_p50_s`` on ``registry_sweep``).
* ``op_cpu_p50_s`` spread 0.15-0.34 on ``registry_sweep``, whose entries
  differ by an order of magnitude in cost.
* ``fail_ratio`` is 0 when the program is correct, and the result line
  carries it as ``failed`` / ``attempted``.

Every per-layer metric comes from the traced run (``--trace 1``). Each
names the end-to-end metric it should move and the workload it shows on
(``MOVES``).
"""

from __future__ import annotations

import json

WORKLOADS = [
    {
        "name": "lake_backup",
        "why": "full, daily-incremental and CDC backups of a five-table lake with verify, "
        "point-in-time restores and retention: the SnapshotManager, txnlog and hashing paths",
    },
    {
        "name": "registry_sweep",
        "why": "one seeded pass over compute-heavy LLM-data entries and short per-job-cost-bound "
        "entries, caches cleared; writes nothing to a backup store",
    },
]

RUN_SECONDS = 30

# Gated end-to-end metrics and their bounds. Wall-clock numbers spread
# too much on a shared host to be gated (see the module docstring); the
# report line prints them next to these.
END_TO_END = [
    ("cpu_rel", "ratio", "lower", 0.24),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("setup_s", "s", "lower", 0.25),
]
# program modules whose registry entries registry_sweep runs
REGISTRY_MODULES = [
    "similarity",
    "dedup",
    "text",
    "curation",
    "streaming",
    "pysource",
    "plans",
    "diagnostics",
    "snapshot",
    "sketch",
    "quality",
]
SM = "snapshot_manager"
SM_TRACED = ["snapshot", "commit_delta", "verify", "restore"]

LB, RS = "lake_backup", "registry_sweep"


def _per_layer() -> list[tuple[str, str, str, str, str]]:
    """(name, unit, better, end-to-end metrics it moves, workloads); the
    last two comma-separated."""
    daily, space, restore = "daily_backup_p50_s", "space_amp", "restore_p50_s"
    registry = "wall_s,entry_p50_s"
    out = [("session.get_session_s", "s", "lower", "setup_s", f"{LB},{RS}")]
    for op in ("snapshot", "commit_delta", "verify"):
        out += [
            (f"{SM}.{op}_s", "s", "lower", daily, LB),
            (f"{SM}.{op}_jobs", "count", "lower", daily, LB),
        ]
    out += [
        (f"{SM}.snapshot_data_bytes", "bytes", "lower", f"{space},{daily}", LB),
        (f"{SM}.snapshot_manifest_bytes", "bytes", "lower", f"{space},{daily}", LB),
        (f"{SM}.bytes_per_changed_row", "bytes", "lower", f"{space},{daily}", LB),
        (f"{SM}.restore_s", "s", "lower", restore, LB),
        (f"{SM}.restore_jobs", "count", "lower", restore, LB),
        (f"{SM}.restore_files_read", "count", "lower", restore, LB),
        (f"{SM}.restore_chain_len", "count", "lower", restore, LB),
    ]
    out += [(f"{SM}.{op}_s", "s", "lower", f"wall_s,{space}", LB) for op in ("rebase", "purge", "vacuum")]
    out += [
        (f"{SM}.vacuum_bytes_reclaimed", "bytes", "higher", f"wall_s,{space}", LB),
        ("txnlog.commits", "count", "lower", "wall_s", LB),
        ("txnlog.log_bytes", "bytes", "lower", "wall_s", LB),
        ("txnlog.state_s", "s", "lower", "wall_s", LB),
    ]
    for m in REGISTRY_MODULES:
        out += [
            (f"{m}.build_s", "s", "lower", registry, RS),
            (f"{m}.exec_s", "s", "lower", registry, RS),
            (f"{m}.jobs", "count", "lower", registry, RS),
        ]
    # (layer, what its driver-only time moves, what its executor work moves)
    traced = [(m, "entry_p50_s", "wall_s", RS) for m in REGISTRY_MODULES]
    traced += [(f"{SM}.{op}", daily, daily, LB) for op in SM_TRACED[:3]]
    traced += [(f"{SM}.restore", restore, restore, LB)]
    for layer, driver, executor, wl in traced:
        out += [
            (f"{layer}.driver_only_s", "s", "lower", driver, wl),
            (f"{layer}.executor_cpu_s", "s", "lower", executor, wl),
            (f"{layer}.shuffle_write_bytes", "bytes", "lower", executor, wl),
        ]
    out += [
        ("spark.spill_bytes", "bytes", "lower", "wall_s", RS),
        ("spark.gc_s", "s", "lower", "wall_s", f"{LB},{RS}"),
        ("spark.task_retries", "count", "lower", "fail_ratio", f"{LB},{RS}"),
        ("spark.codegen_fallbacks", "count", "lower", "wall_s", RS),
        # tracing overhead: the ledger's own time, and the traced run's
        # wall_s to set against the untraced wall_s
        ("trace.self_s", "s", "lower", "wall_s", f"{LB},{RS}"),
        ("trace.wall_s", "s", "lower", "wall_s", f"{LB},{RS}"),
    ]
    return out


PER_LAYER = _per_layer()
MOVES = {
    name: {"moves": e2e.split(","), "workloads": wl.split(",")} for name, _, _, e2e, wl in PER_LAYER
}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
