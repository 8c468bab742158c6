"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload lake_backup --seed 1 --seconds 30 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``
under ``.perfbench_work/`` (removed afterwards) in a child process,
starts one Spark session through the program's own ``get_session``, runs
the workload as one closed-loop client, checks every output, and prints
two lines:

* a report with every end-to-end number of the workload, by name, unit
  and sample count (``report``);
* last, one JSON object ``{"correct", "attempted", "failed", "metrics"}``
  holding the end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``)
  or its per-layer metrics (``--trace 1``).

``--trace 1`` turns on Spark's event log through submit-time conf, tags
every call into the program with a job group, and writes the span ledger
to ``.perfbench_out/``. Untraced runs set none of this, so the
end-to-end metrics come from runs without tracing. ``--seconds`` sets
the amount of work (days of churn, see ``workloads.backup_inputs``), not
a deadline, so every run of a workload does the same work.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
# rows of the reference job (see ``Session.reference``)
REF_ROWS = 300_000


def _program_present() -> bool:
    return os.path.isfile(f"{ROOT}/__spark_entry__.py") and os.path.isfile(
        f"{ROOT}/blog_snapshotbackup_azuredatalake_spark/session.py"
    )


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _tree_cpu_s(pid: int) -> float:
    """User plus system CPU time of a process, its live descendants and
    its reaped children."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat(int(d))[1]), []).append(int(d))
            except OSError:
                continue
    ticks, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            f = _stat(p)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])
        todo += children.get(p, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _process_age_s() -> float:
    """Seconds since this process started."""
    start = int(_stat(os.getpid())[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _in_child(fn, *args):
    """``fn(*args)`` in a forked child process, waited for."""
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as ex:
        return ex.submit(fn, *args).result()


def _jit_cpu_s(pid: int) -> float:
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            ticks += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _metric(value: float, unit: str, n: int | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


class Session:
    """The Spark session under test, its JVM, and the process-level
    set-up around it (scratch dirs, captured driver log)."""

    def __init__(self, work: str, trace: bool):
        self.trace = trace
        self.eventlog = f"{work}/eventlog"
        self.driver_log = f"{work}/driver.log"
        for d in ("tmp", "local", "eventlog"):
            os.makedirs(f"{work}/{d}", exist_ok=True)
        # half the CPUs: the other half absorbs the JVM's JIT and GC
        # threads and the Python driver, which keeps run-to-run spread
        # low on a shared host
        os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
        os.environ["TMPDIR"] = f"{work}/tmp"
        # a pinned heap keeps peak RSS from following G1's heap-growth
        # decisions (unpinned, peak_rss_mb spread about 0.1 over seeds,
        # against 0.02); a fixed young generation keeps G1 from growing
        # eden until the whole heap is touched, so the JVM's peak RSS
        # moves with the old generation the program fills; fixed JIT
        # compiler threads keep their CPU time countable; and the C1
        # compiler alone (no C2) keeps JIT work small. With C2 the
        # compiler threads spent more CPU than the run itself (about 40 s
        # against 30 s), on the cores the run's threads need, so the run's
        # CPU time followed how busy the host was; with C1 alone they
        # spend about 5 s
        java_opts = (
            f"-Djava.io.tmpdir={work}/tmp -Xms{DRIVER_MEM} -Xmn512m"
            " -XX:-UseDynamicNumberOfCompilerThreads -XX:TieredStopAtLevel=1"
        )
        submit = ["--conf", f"spark.driver.extraJavaOptions={java_opts}"]
        if trace:
            for conf in (
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir=file://{self.eventlog}",
                "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false",
            ):
                submit += ["--conf", conf]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
        # the JVM inherits stderr: send its log to a file, so the driver
        # log can be searched and stdout/stderr stay readable
        sys.stderr.flush()
        self._stderr = os.dup(2)
        fd = os.open(self.driver_log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        self.spark = None
        self._stopped = False
        self.get_session_s = 0.0

    def setup(self, tables: str) -> None:
        """A session through ``get_session`` (which starts the JVM) and a
        first read (a count) of every table in the directory ``tables``."""
        from blog_snapshotbackup_azuredatalake_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_session_s = time.perf_counter() - t0
        for f in sorted(os.listdir(tables)):
            if f.endswith(".parquet"):
                self.spark.read.parquet(f"{tables}/{f}").count()

    def reference(self) -> float:
        """CPU seconds, counted as ``cpu_s`` counts them, of one run of a
        fixed Spark job that calls no program code: hash a range, shuffle
        it by key and sum per key. ``cpu_rel`` divides the run's CPU time
        by it, so a host that runs slower or faster for a while moves
        both alike."""
        before = self.cpu()["cpu_s"]
        rows = (
            self.spark.range(0, REF_ROWS, 1, 2)
            .selectExpr("id % 997 AS k", "xxhash64(id) & 65535 AS h")
            .repartition(2, "k")
            .groupBy("k")
            .sum("h")
            .collect()
        )
        assert len(rows) == 997
        return self.cpu()["cpu_s"] - before

    def cpu(self) -> dict[str, float]:
        """CPU time of this process, the JVM and the Python workers, less
        the JVM's JIT compiler threads (``cpu_s``); and that JIT time
        (``jit_cpu_s``), a warm-up cost that varies from run to run."""
        jit = _jit_cpu_s(self.spark.sparkContext._gateway.proc.pid)
        return {"cpu_s": _tree_cpu_s(os.getpid()) - jit, "jit_cpu_s": jit}

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm)) / 1024.0

    def stop(self) -> list[str]:
        """Stop Spark and its JVM, wait for both, and return the lines of
        the event log of the last application (traced runs)."""
        from pyspark import SparkContext

        if self._stopped:
            return []
        self._stopped = True
        app = None
        if self.spark is not None:
            app = self.spark.sparkContext.applicationId
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        sys.stderr.flush()
        os.dup2(self._stderr, 2)
        os.close(self._stderr)
        if not (self.trace and app):
            return []
        path = os.path.join(self.eventlog, app)
        with open(path) as f:
            return f.readlines()

    def codegen_fallbacks(self) -> int:
        with open(self.driver_log, errors="replace") as f:
            return sum(1 for line in f if "Failed to compile" in line)

    def driver_log_tail(self, n: int = 40) -> str:
        with open(self.driver_log, errors="replace") as f:
            return "".join(f.readlines()[-n:])


class _Mkdtemps:
    """Records the directories ``tempfile.mkdtemp`` makes in this process
    while active, and removes them on exit. The program puts its scratch
    stores on /dev/shm when it can, outside the run's own directory."""

    def __enter__(self) -> None:
        self.made: list[str] = []
        self._real = tempfile.mkdtemp

        def mkdtemp(*args, **kwargs):
            path = self._real(*args, **kwargs)
            self.made.append(path)
            return path

        tempfile.mkdtemp = mkdtemp

    def __exit__(self, *exc) -> None:
        tempfile.mkdtemp = self._real
        for path in self.made:
            shutil.rmtree(path, ignore_errors=True)


def end_to_end(name: str, run, setup_s: float, gen_s: float) -> tuple[dict, dict]:
    """(report, metrics): every end-to-end number of the workload, and
    the subset BENCHMARK.json gates."""
    from layers import END_TO_END

    units = run.units
    p50 = statistics.median(units)
    ref = statistics.mean(run.refs)
    report = {
        "setup_s": _metric(setup_s, "s", 1),
        "input_gen_s": _metric(gen_s, "s", 1),
        "check_s": _metric(run.extra["check_s"], "s", 1),
        "wall_s": _metric(run.extra["wall_s"], "s", 1),
        "cpu_s": _metric(run.extra["cpu_s"], "s", 1),
        "ref_cpu_s": _metric(ref, "s", len(run.refs)),
        "cpu_rel": _metric(run.extra["cpu_s"] / ref, "ratio", 1),
        "jit_cpu_s": _metric(run.extra["jit_cpu_s"], "s", 1),
        "steal_s": _metric(run.extra["steal_s"], "s", 1),
        "op_cpu_p50_s": _metric(statistics.median(run.unit_cpu), "s", len(run.unit_cpu)),
        "fail_ratio": _metric(run.failed / max(1, run.attempted), "ratio", run.attempted),
        "peak_rss_mb": _metric(run.extra["peak_rss_mb"], "MB", 1),
    }
    if name == "lake_backup":
        report["full_backup_s"] = _metric(run.extra["full_backup_s"], "s", 1)
        report["daily_backup_p50_s"] = _metric(p50, "s", len(units))
        report["restore_p50_s"] = _metric(run.extra["restore_p50_s"], "s", run.extra["restores"])
        report["space_amp"] = _metric(run.extra["space_amp"], "ratio", 1)
    else:
        report["entry_p50_s"] = _metric(p50, "s", len(units))
    report["op_p50_s"] = _metric(p50, "s", len(units))
    return report, {name: report[name] for name, *_ in END_TO_END}


def per_layer(sess: Session, ledger, run, events: list[str]) -> dict:
    """Every per-layer metric of BENCHMARK.json from the span ledger,
    the event log and the workload's own counters."""
    import ledger as L
    from layers import PER_LAYER, REGISTRY_MODULES, SM, SM_TRACED

    parsed = L.parse_event_log(events)
    L.attribute(ledger.spans, parsed["jobs"])
    spans = ledger.spans

    def total(key, module: str, op: str | None = None, suffix: str | None = None) -> float:
        get = key if callable(key) else (lambda s: s.get(key, 0))
        return sum(
            get(s)
            for s in spans
            if s["module"] == module
            and (op is None or s["op"] == op)
            and (suffix is None or s["op"].endswith(suffix))
        )

    def n_jobs(s: dict) -> int:
        return len(s["jobs"])

    ex = run.extra
    v: dict[str, float] = {"session.get_session_s": sess.get_session_s}
    for op in SM_TRACED + ["rebase", "purge", "vacuum"]:
        v[f"{SM}.{op}_s"] = total("s", SM, op)
    for op in SM_TRACED:
        v[f"{SM}.{op}_jobs"] = total(n_jobs, SM, op)
    for k in ("snapshot_data_bytes", "snapshot_manifest_bytes", "bytes_per_changed_row", "vacuum_bytes_reclaimed"):
        v[f"{SM}.{k}"] = ex.get(k, 0)
    v[f"{SM}.restore_files_read"] = total("files_read", SM, "restore")
    v[f"{SM}.restore_chain_len"] = total("chain_len", SM, "restore")
    v["txnlog.commits"] = ex.get("txnlog.commits", 0)
    v["txnlog.log_bytes"] = ex.get("txnlog.log_bytes", 0)
    v["txnlog.state_s"] = total("s", "txnlog", "state")
    layers = [(m, m, None) for m in REGISTRY_MODULES] + [(f"{SM}.{op}", SM, op) for op in SM_TRACED]
    for name, module, op in layers:
        if op is None:
            v[f"{name}.build_s"] = total("s", module, suffix=":build")
            v[f"{name}.exec_s"] = total("s", module, suffix=":exec")
            v[f"{name}.jobs"] = total(n_jobs, module)
        v[f"{name}.driver_only_s"] = total("driver_only_s", module, op)
        v[f"{name}.executor_cpu_s"] = total("cpu_ns", module, op) / 1e9
        v[f"{name}.shuffle_write_bytes"] = total("shuffle_write_bytes", module, op)
    tot = parsed["totals"]
    v["spark.spill_bytes"] = tot["spill_bytes"]
    v["spark.gc_s"] = tot["gc_ms"] / 1000.0
    v["spark.task_retries"] = tot["failed_tasks"]
    v["spark.codegen_fallbacks"] = sess.codegen_fallbacks()
    v["trace.self_s"] = ledger.self_s
    v["trace.wall_s"] = ex["wall_s"]
    return {name: _metric(v[name], unit) for name, unit, *_ in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print("perfbench: the program is not in this checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import numpy as np

    from ledger import Ledger
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sess = None
    with _Mkdtemps():
        try:
            # input generation runs in a child process, which keeps it out
            # of this process's peak memory; set-up is timed from process
            # start, less input generation
            t0 = time.perf_counter()
            inputs = _in_child(wl.inputs, work, args.seed, args.seconds)
            gen_s = time.perf_counter() - t0
            os.chdir(work)
            sess = Session(work, bool(args.trace))
            sess.setup(f"{inputs['lake']}/{wl.first_read}")
            setup_s = _process_age_s() - gen_s
            sess.reference()  # warm-up: the timed references run warm
            ledger = Ledger(sess.spark.sparkContext if args.trace else None)
            probe = lambda: {**sess.cpu(), "steal_s": _steal_s()}  # noqa: E731
            peak = lambda: {"peak_rss_mb": sess.peak_rss_mb()}  # noqa: E731
            rng = np.random.default_rng([args.seed, 3])
            t0 = time.perf_counter()
            run = wl.run(sess.spark, ledger, inputs, rng, Run(probe, peak, sess.reference))
            run.extra["check_s"] = time.perf_counter() - t0 - run.extra["wall_s"]
            report, metrics = end_to_end(args.workload, run, setup_s, gen_s)
            events = sess.stop()
            if args.trace:
                metrics = per_layer(sess, ledger, run, events)
                out = os.path.join(ROOT, ".perfbench_out")
                os.makedirs(out, exist_ok=True)
                ledger.dump(f"{out}/ledger-{args.workload}-{args.seed}.json")
        except BaseException:
            if sess is not None:
                sess.stop()
                sys.stderr.write(sess.driver_log_tail())
            raise
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run uses it
            except OSError:
                pass
    for why in run.failures:
        print(f"perfbench: FAILED {why}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": report}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": max(1, run.attempted),
                "failed": run.failed,
                "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
