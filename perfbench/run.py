"""End-to-end workload benchmark for the priority engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one closed-loop workload (one client, waiting on every call)
through the engine's public API under the shipped session
(``session.get_spark``: AQE on, ``local[<cores>]``) and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``.

Workloads (``workloads.py``): ``erp_refresh`` (EP2 initial load, then
EP1 incremental refresh rounds, each followed by a read-back query over
the staged tables) and ``curation_export`` (crawl pages pulled over HTTP
from a loopback OData server and landed, then ``build_curation`` ->
``write_shards`` + manifest). Inputs are generated from ``--seed``;
every operation's output is checked against a DuckDB oracle outside
the timed spans.

End-to-end metrics (``--trace 0``), the same names on every workload:

- ``op_s``: median wall time of the repeated operation (erp_refresh:
  one EP1 refresh plus the read-back query; curation_export: one pull,
  curation build and export).
- ``first_op_s``: the first operation of the timed region (erp_refresh:
  the EP2 initial load; curation_export: the first export).
- ``out_bytes_per_row``: on-disk bytes of the workload's output after
  its last operation per live row (staged tables or exported shards).
- ``setup_s``: session start (JVM launch) and one untimed warm-up pass
  (erp_refresh: EP2, one refresh and the read-back on a 3k-order copy;
  curation_export: one export of the real corpus, whose first
  full-size run is markedly slower and less steady). Seeded input
  generation is the benchmark's own work, the same on every commit,
  and is left out so that it adds no noise.

Failed operations (an entity's ``RunResult.error``, an exception, a
failed output check) are counted in ``failed`` against ``attempted``.

``--trace 1`` starts the session with the Spark event log on
(uncompressed, so stdlib ``json`` reads it), measures half the time
untraced, and measures the other half, in the same warm session, with
every public call wrapped and every Spark job labelled with its phase;
``trace.overhead_ratio`` is the wrappers' and labels' cost, since the
event log is on in both halves. It prints the per-layer metrics
(``_layer_units``), each per occurrence of its phase; layers a workload
does not run read 0. ``process.peak_rss_mb`` (peak summed RSS
of the engine's processes — driver JVM, PySpark daemon and workers —
over the untraced pass) is reported here rather than end to end: the
JVM heap grows by its collector's heuristics, and across runs of the
same inputs the peak spread by up to a quarter of its median.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "op_s": "s", "first_op_s": "s", "out_bytes_per_row": "B/row",
    "setup_s": "s",
}


def _layer_units() -> dict[str, str]:
    from tracing import PHASES, STAGE_STATS

    units = {}
    for ph in PHASES:
        for st in STAGE_STATS:
            units[f"session.{ph}.{st}"] = (
                "s" if st.endswith("_s") else
                "B" if st.endswith("_bytes") else "count")
    units.update({
        "pipeline.store.merge_s": "s",
        "pipeline.store.merge_calls": "count",
        "pipeline.store.partitions_touched": "count",
        "pipeline.store.partitions_total": "count",
        "pipeline.store.rows_rewritten_per_delta_row": "ratio",
        "pipeline.store.files_written": "count",
        "pipeline.store.bytes_written": "B",
        "pipeline.store.overwrite_s": "s",
        "pipeline.store.overwrite_calls": "count",
        "pipeline.runner.entity_s.orders": "s",
        "pipeline.runner.entity_s.customer": "s",
        "pipeline.runner.entity_s.nation": "s",
        "pipeline.delta_rows": "rows",
        "curation.build_s": "s",
        "curation.build_jobs": "count",
        "curation.rows_in": "rows",
        "curation.rows_out": "rows",
        "operators.text.python_bytes_sent": "B",
        "operators.text.python_bytes_returned": "B",
        "sinks.shards.write_s": "s",
        "sinks.shards.manifest_s": "s",
        "sinks.shards.shards": "count",
        "sinks.shards.bytes": "B",
        "sources.odata_like.requests": "count",
        "sources.odata_like.bytes_fetched": "B",
        "sources.odata_like.rows_decoded": "rows",
        "sources.odata_like.retries": "count",
        "sources.odata_like.python_bytes_returned": "B",
        "bench.server_busy_s": "s",
        "process.peak_rss_mb": "MB",
        "trace.overhead_ratio": "ratio",
    })
    return units


def _environment(work: str) -> None:
    """Everything the engine needs, set from outside: the package on
    the Python workers' path, the session sized to this host, and every
    scratch file (shuffle, JVM and Python temp files) inside ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["JAVA_TOOL_OPTIONS"] = " ".join(p for p in (
        env.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-XX:-UsePerfData") if p)


def start_session(work: str, events: str | None = None):
    from priority_data_pipeline_azure_sql_db_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if events is not None:
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            # one file per application (Spark 4 rolls event logs by default)
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it and every process it
    started (the PySpark daemon and its workers) have exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    from tracing import descendants, proc_stat

    procs = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if (proc_stat(p) or ["Z"])[0] != "Z"]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Runner:
    """Drives one workload: set-up, timed passes, metrics."""

    def __init__(self, name: str, seed: int, work: str):
        import workloads

        self.cls = workloads.WORKLOADS[name]
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.wl = None

    def setup(self, events: str | None = None):
        """Session start (the JVM launch, with the event log written to
        ``events`` when given), input generation and one warm-up pass.
        Returns the session and the set-up time, which leaves input
        generation out."""
        t0 = time.perf_counter()
        spark = start_session(self.work, events)
        start_s = time.perf_counter() - t0
        self.wl = self.cls(self.seed, os.path.join(self.work, "in"))
        t0 = time.perf_counter()
        self.wl.prepare(spark)
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.wl.warmup(spark)
        warmup_s = time.perf_counter() - t0
        print(f"[perfbench] setup: session {start_s:.2f}s, inputs "
              f"{prepare_s:.2f}s (untimed), warm-up {warmup_s:.2f}s",
              file=sys.stderr)
        return spark, start_s + warmup_s

    def timed_pass(self, spark, seconds: float, probe=None,
                   rss=None) -> list[float]:
        """first() once, then op() until ``seconds`` of timed operation
        are spent, under ``rss`` (an RssSampler) when given. Returns the
        operation walls, first() first."""
        wl = self.wl
        wl.begin(spark)
        undo = wl.instrument(probe) if probe is not None else []
        walls: list[float] = []
        step = wl.first
        try:
            with rss or contextlib.nullcontext():
                while True:
                    n_err = len(wl.errors)
                    self.attempted += 1
                    try:
                        walls.append(step(spark, probe))
                    except Exception as exc:
                        wl.fail(f"{type(exc).__name__}: {exc}")
                        self.failed += 1
                        break
                    print(f"[perfbench] op {len(walls)}: {walls[-1]:.3f}s",
                          file=sys.stderr)
                    if len(wl.errors) > n_err:
                        self.failed += 1
                    if sum(walls) >= seconds and len(walls) >= wl.min_walls:
                        break
                    step = wl.op
        finally:
            for u in undo:
                u()
        if len(walls) < wl.min_walls:
            raise RuntimeError(f"{wl.name}: operation failed: {wl.errors}")
        return walls

    def end_to_end(self, spark, seconds: float, setup_s: float) -> dict:
        wl = self.wl
        walls = self.timed_pass(spark, seconds)
        return {
            "op_s": statistics.median(wl.op_walls(walls)),
            "first_op_s": walls[0],
            "out_bytes_per_row": wl.out_bytes / max(1, wl.out_rows),
            "setup_s": setup_s,
        }

    def per_layer(self, spark, seconds: float, events: str) -> dict:
        """Both halves run in the warmed-up session that writes the
        event log; only the second is wrapped and labelled, and the log
        reader counts labelled jobs only."""
        from tracing import (PHASES, STAGE_STATS, Probe, RssSampler,
                             read_event_log)

        ops = self.wl.op_walls
        rss = RssSampler()
        untraced = statistics.median(
            ops(self.timed_pass(spark, seconds / 2, rss=rss)))
        probe = Probe(spark)
        traced = statistics.median(
            ops(self.timed_pass(spark, seconds / 2, probe)))
        spark.stop()  # flushes and closes the event log
        stats = read_event_log(events, probe.windows, probe.occurrences)

        m = {k: 0.0 for k in _layer_units()}
        for ph in PHASES:
            for st in STAGE_STATS:
                m[f"session.{ph}.{st}"] = stats.get(ph, {}).get(st, 0.0)
        m["curation.build_jobs"] = stats.get(
            "curation_build", {}).get("jobs", 0.0)
        for ph in ("curation_build", "curation_write"):
            s = stats.get(ph, {})
            m["operators.text.python_bytes_sent"] += s.get("py_sent", 0.0)
            m["operators.text.python_bytes_returned"] += s.get(
                "py_returned", 0.0)
        m["sources.odata_like.python_bytes_returned"] = stats.get(
            "odata", {}).get("py_returned", 0.0)
        m.update(self.wl.layer_metrics(probe))
        m["process.peak_rss_mb"] = rss.peak_bytes / 2**20
        m["trace.overhead_ratio"] = traced / untraced
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["erp_refresh", "curation_export"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import priority_data_pipeline_azure_sql_db_spark  # noqa: F401 — fail early

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{os.getpid()}")
    _environment(work)
    runner = Runner(args.workload, args.seed, work)
    events = os.path.join(work, "events") if args.trace else None
    try:
        spark, setup_s = runner.setup(events)
        if args.trace:
            values = runner.per_layer(spark, args.seconds, events)
            units = _layer_units()
        else:
            values = runner.end_to_end(spark, args.seconds, setup_s)
            units = E2E_UNITS
            spark.stop()
    finally:
        if runner.wl is not None:
            runner.wl.close()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    result = {
        "correct": not runner.wl.errors and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
