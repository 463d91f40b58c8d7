"""Benchmark of the event-streaming engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Workloads (see perfbench/README.md):

  consume_drain    drain a seeded event backlog through
                   streaming.pipeline.consume_to_tables, 1 file/trigger
  event_queries    13 monitoring/replay queries on sf0.1-sized events

Each run: set-up three times (session start, fixture prep, input
generation) and keep the last; one untimed warm-up pass whose results
pass the correctness gate; then full passes until `--seconds` of
measurement, and at least two. With `--trace 0` the last stdout
line carries the end-to-end metrics; with `--trace 1` untraced and
traced units alternate (only the traced ones record spans and
carry the streaming listener) and the line carries the per-layer
metrics, including the tracing overhead. Traces go to `.perfbench_work/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import tempfile
import traceback
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import loadgen  # noqa: E402
from gates import (check_drain, compare_frames, drain_counts,  # noqa: E402
                   run_oracle)
from tracing import (JobStats, ProgressListener, RssSampler,  # noqa: E402
                     StatusReader, Tracer, descendants, tree_cpu_s)

ROOT = os.getcwd()
PACKAGE = "event_streaming_service_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
DEADLINE_S = 170   # a run must end within 180 s

QUERIES = {
    "event_queries": [
        "topic_statistics", "lag_per_partition", "lag_surface",
        "topic_dashboard", "routing_keys", "validation_rejects",
        "dedup_earliest", "pipeline_dispositions", "replay_time_range",
        "replay_slice", "session_windows_30m", "sliding_hourly_counts",
        "asof_last_order_before_event"],
}
WORKLOADS = ["consume_drain", *QUERIES]
BACKLOG_FILES = 6
BACKLOG_ROWS_PER_FILE = 2_000
WARMUP_FILES = 2   # the warm-up drains its own short backlog
# The low median of two units (their minimum) drops one unit slowed by
# the host; a third event_queries pass does not fit the run budget, and
# a third drain did not make consume_drain steadier (see the README).
MIN_UNITS = 2
# op_ms_tail's percentile: a run holds 6 micro-batches per drain or
# one latency per query, too few for a higher one (see the README).
TAIL_PCT = 75.0

# The gated metrics are CPU seconds of the process tree: on a shared
# host wall times drift too far between runs (see the README).
E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s"}
# Wall-clock and memory metrics, reported per layer (see the README).
WALL_UNITS = {"setup_wall_s": "s", "pass_s": "s", "op_ms_p50": "ms",
              "op_ms_tail": "ms", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    **WALL_UNITS,
    "session.start_s": "s", "sources.fixture_prep_s": "s",
    "sources.input_bytes": "B", "sources.input_rows": "count",
    "query_defs.builder_ms": "ms", "query_defs.exec_ms": "ms",
    "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.core_busy_share": "ratio",
    "operators.executor_run_ms": "ms", "operators.executor_cpu_ms": "ms",
    "operators.gc_ms": "ms", "operators.shuffle_read_bytes": "B",
    "operators.shuffle_write_bytes": "B", "operators.spill_bytes": "B",
    "session.persisted_rdds": "count", "session.storage_memory_bytes": "B",
    "streaming.source_rows_per_event": "ratio",
    "streaming.add_batch_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.jobs_per_batch": "count", "streaming.main_rows": "count",
    "streaming.dlq_rows": "count", "streaming.dedup_dropped_rows": "count",
    "streaming.cross_batch_dups_leaked": "count",
    "trace.overhead_cpu_s": "s", "trace.overhead_share": "ratio",
    "failed_ratio": "ratio",
}
# per-layer metric <- status-store total (summed over one pass)
OPERATOR_TOTALS = {
    "sources.input_bytes": ("input_bytes", 1.0),
    "sources.input_rows": ("input_rows", 1.0),
    "operators.executor_run_ms": ("executor_run_ms", 1.0),
    "operators.executor_cpu_ms": ("executor_cpu_ns", 1e-6),
    "operators.gc_ms": ("gc_ms", 1.0),
    "operators.shuffle_read_bytes": ("shuffle_read_bytes", 1.0),
    "operators.shuffle_write_bytes": ("shuffle_write_bytes", 1.0),
    "operators.spill_bytes": ("spill_disk_bytes", 1.0),
}
STREAM_DURATIONS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.get_batch_ms": "getBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}


class Timeout(Exception):
    pass


def _on_alarm(signum, frame):
    raise Timeout("run exceeded its deadline")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A driver heap well under host RAM: a quarter of it, 1-4 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 1024 ** 3))}g"


def configure_environment(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the run directory, and size the driver for this host."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp   # gettempdir() may have cached another dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    heap = driver_memory()
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    # -XX:-UsePerfData: no hsperfdata files in /tmp, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                         "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\"",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell"])


def percentile(values: list[float], pct: float) -> float:
    ordered = sorted(values)
    pos = (len(ordered) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


class Run:
    def __init__(self, args) -> None:
        from __spark_entry__ import _ship_package
        from event_streaming_service_spark.queries import REGISTRY, _load_all
        from event_streaming_service_spark.session import get_spark
        from event_streaming_service_spark.sources import fixtures
        from event_streaming_service_spark.streaming import pipeline

        _load_all()
        self.registry = REGISTRY
        self.get_spark = get_spark
        self.ship_package = _ship_package
        self.fixtures = fixtures
        self.pipeline = pipeline
        self.args = args
        self.workload = args.workload
        self.cpus = cpu_count()
        self.run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
        self.run_dir = os.path.join(WORK, self.run_id)
        self.tracer = Tracer(self.run_id, enabled=bool(args.trace))
        self.rss = RssSampler()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}

    # -- set-up --------------------------------------------------------

    def setup_once(self, rep: int) -> dict[str, float]:
        """Session start + fixture prep + input generation, timed."""

        if self.spark is not None:
            self.spark.stop()
        times, c0 = {}, tree_cpu_s()
        with self.tracer.span("session.get_spark", rep=rep) as s:
            self.spark = self.get_spark("perfbench", cpus=self.cpus)
            # Python workers import the package whatever their cwd
            self.ship_package(self.spark)
        times["session"] = s["duration_s"]
        rep_dir = os.path.join(self.run_dir, f"input-{rep}")
        with self.tracer.span("perfbench.generate", rep=rep) as s:
            if self.workload == "consume_drain":
                self.backlogs = {
                    kind: (os.path.join(rep_dir, kind), loadgen.write_backlog(
                        os.path.join(rep_dir, kind), self.args.seed + i,
                        n_files, BACKLOG_ROWS_PER_FILE))
                    for i, (kind, n_files) in enumerate(
                        [("backlog", BACKLOG_FILES),
                         ("warmup", WARMUP_FILES)])}
                self.backlog = self.backlogs["backlog"][1]
            else:
                self.table_dir = os.path.join(rep_dir, "tables")
                loadgen.write_tables(self.table_dir, self.args.seed)
        times["generate"] = s["duration_s"]
        times["prep"] = 0.0
        if self.workload != "consume_drain":
            with self.tracer.span("sources.prepare_splittable", rep=rep) as s:
                self.data_dir = self.fixtures.prepare_splittable(
                    self.table_dir, os.path.join(rep_dir, "split"),
                    target_files=self.cpus)
            times["prep"] = s["duration_s"]
        times["cpu"] = tree_cpu_s() - c0
        return times

    def setup(self) -> tuple[float, float]:
        """(wall, CPU) seconds: medians over the set-up repetitions."""
        reps = [self.setup_once(rep) for rep in range(SETUP_REPS)]
        for rep in range(SETUP_REPS - 1):   # keep only the live inputs
            shutil.rmtree(os.path.join(self.run_dir, f"input-{rep}"))
        self.layer["session.start_s"] = statistics.median(
            r["session"] for r in reps)
        self.layer["sources.fixture_prep_s"] = statistics.median(
            r["prep"] for r in reps)
        return (statistics.median(r["session"] + r["generate"] + r["prep"]
                                  for r in reps),
                statistics.median(r["cpu"] for r in reps))

    # -- batch query workloads -----------------------------------------

    def warm_and_check(self) -> tuple[float, float]:
        """One untimed pass that collects every result and compares it
        with the DuckDB oracle; returns the (wall, CPU) seconds of the
        pass without the oracle's."""

        self.bad_queries: set[str] = set()
        spark_s = cpu_s = 0.0
        for name in QUERIES[self.workload]:
            spec = self.registry[name]
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                got = spec.builder(self.spark, self.data_dir).toPandas()
            except Exception as exc:   # the query failed: record, go on
                self.bad_queries.add(name)
                self.notes.append(f"{name}: {type(exc).__name__}: "
                                  f"{str(exc).splitlines()[0][:200]}")
                continue
            finally:
                spark_s += time.perf_counter() - t0
                cpu_s += tree_cpu_s() - c0
            if spec.oracle is None:
                continue
            reason = compare_frames(got, run_oracle(spec.oracle,
                                                    self.table_dir))
            if reason is not None:
                self.bad_queries.add(name)
                self.notes.append(f"{name}: oracle mismatch: {reason}")
        return spark_s, cpu_s

    def query_pass(self, reader=None) -> dict:
        """One timed pass: builder + noop-sink action per query."""
        durations, cpu, stats = {}, {}, None
        if reader is not None:
            stats, builder_ms, exec_ms = JobStats(), 0.0, 0.0
        sc = self.spark.sparkContext
        with self.tracer.span("pass") as pass_span:
            for name in QUERIES[self.workload]:
                group = f"{self.run_id}-{name}-{len(self.tracer.spans)}"
                if reader is not None:
                    sc.setJobGroup(group, name)
                self.attempted += 1
                c0, t0 = tree_cpu_s(), time.perf_counter()
                try:
                    with self.tracer.span(f"query_defs.{name}") as b:
                        df = self.registry[name].builder(self.spark,
                                                         self.data_dir)
                    with self.tracer.span(f"operators.{name}.noop") as x:
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:   # count it, keep measuring
                    self.failed += 1
                    self.notes.append(f"{name}: {type(exc).__name__}")
                    continue
                durations[name] = time.perf_counter() - t0
                cpu[name] = tree_cpu_s() - c0
                if name in self.bad_queries:
                    self.failed += 1
                if reader is not None:
                    builder_ms += b["duration_s"] * 1e3
                    exec_ms += x["duration_s"] * 1e3
                    stats.add(reader.collect(group))
        out = {"durations": durations, "cpu_s": cpu,
               "wall_s": pass_span["duration_s"]}
        if reader is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            out.update(stats=stats, builder_ms=builder_ms, exec_ms=exec_ms)
        return out

    # -- consume_drain -------------------------------------------------

    def drain(self, tag: str, reader=None, listener=None,
              kind: str = "backlog") -> dict:
        """Drain a whole backlog once into fresh tables; check them."""
        backlog_dir, backlog = self.backlogs[kind]
        out_dir = os.path.join(self.run_dir, f"drain-{tag}")
        main, dlq = os.path.join(out_dir, "main"), os.path.join(out_dir, "dlq")
        n_batches = len(backlog.files)
        c0 = tree_cpu_s()
        with self.tracer.span("streaming.consume_to_tables", drain=tag) as d:
            stream = self.pipeline.read_event_stream(
                self.spark, backlog_dir, max_files_per_trigger=1)
            query = self.pipeline.consume_to_tables(
                stream, main, dlq, os.path.join(out_dir, "checkpoint"))
            query.awaitTermination()
        cpu_s = tree_cpu_s() - c0
        if query.exception() is not None:
            raise RuntimeError(f"drain {tag} failed: {query.exception()}")
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        self.attempted += n_batches
        errors = check_drain(backlog, main, dlq)
        self.failed += len(errors)
        self.notes.extend(f"drain {tag}: {e}" for e in errors[:3])
        out = {"wall_s": d["duration_s"], "cpu_s": cpu_s,
               "batch_ms": [p.durationMs["triggerExecution"]
                            for p in progress]}
        if reader is not None:
            run_id = str(query.runId)
            stats = reader.collect(run_id)   # drains the listener bus first
            events = [p for p in listener.take() if str(p.runId) == run_id]
            for p in events:
                start = _iso_seconds(p.timestamp)
                self.tracer.add("streaming.batch", start,
                                start + p.durationMs["triggerExecution"] / 1e3,
                                d["id"], batch=p.batchId,
                                durations=dict(p.durationMs),
                                rows=p.numInputRows)
            out["stats"] = stats
            out["progress"] = events
            out.update(drain_counts(main, dlq, n_batches))
        shutil.rmtree(out_dir)
        return out

    # -- timed regions -------------------------------------------------

    def unit(self, tag: str, reader=None, listener=None) -> dict:
        """One pass (query workloads) or one drain (consume_drain)."""
        if self.workload == "consume_drain":
            return self.drain(tag, reader, listener)
        return self.query_pass(reader)

    def measure(self, seconds: float) -> list:
        """Full passes (drains) until `seconds` have been measured, and
        at least MIN_UNITS."""
        units, t_end = [], time.perf_counter() + seconds
        while len(units) < MIN_UNITS or time.perf_counter() < t_end:
            units.append(self.unit(str(len(units))))
        return units

    def traced_unit(self, tag: str, reader) -> dict:
        """One unit with spans, job groups and the streaming listener."""
        self.tracer.enabled = True
        listener = ProgressListener()
        self.spark.streams.addListener(listener)
        try:
            return self.unit(tag, reader, listener)
        finally:
            self.spark.streams.removeListener(listener)
            self.tracer.enabled = False

    def measure_traced(self, seconds: float) -> tuple[list, list, object]:
        """Untraced and traced units in pairs for 2 x `seconds`, so that
        both see the same warm-up state and host conditions; the pairs
        alternate which unit runs first. Only traced units record
        spans."""
        reader = StatusReader(self.spark)
        plain, traced = [], []
        self.tracer.enabled = False
        t_end = time.perf_counter() + 2 * seconds
        while len(traced) < MIN_UNITS or time.perf_counter() < t_end:
            n = len(traced)
            for kind in ("traced", "plain") if n % 2 else ("plain", "traced"):
                if kind == "plain":
                    plain.append(self.unit(f"u{n}"))
                else:
                    traced.append(self.traced_unit(f"t{n}", reader))
        self.tracer.enabled = True
        return plain, traced, reader

    def end_to_end(self, units: list) -> dict[str, float]:
        """Timing metrics of a run's units, each robust to one slow unit.

        consume_drain: every statistic is taken per drain (wall time,
        median and tail of its micro-batch latencies) and the low median
        across drains is reported. Query workloads: each query's latency
        is its low median across passes; pass_s sums those, op_ms_p50
        and op_ms_tail are percentiles over the workload's queries."""
        low = statistics.median_low
        if self.workload == "consume_drain":
            return {"pass_s": low(u["wall_s"] for u in units),
                    "pass_cpu_s": low(u["cpu_s"] for u in units),
                    "op_ms_p50": low(statistics.median(u["batch_ms"])
                                     for u in units),
                    "op_ms_tail": low(percentile(u["batch_ms"], TAIL_PCT)
                                      for u in units),
                    "samples": sum(len(u["batch_ms"]) for u in units)}
        per_query, per_query_cpu = {}, {}
        for u in units:
            for name, s in u["durations"].items():
                per_query.setdefault(name, []).append(s)
                per_query_cpu.setdefault(name, []).append(u["cpu_s"][name])
        latency_ms = [low(v) * 1e3 for v in per_query.values()]
        return {"pass_s": sum(latency_ms) / 1e3,
                "pass_cpu_s": sum(low(v) for v in per_query_cpu.values()),
                "op_ms_p50": statistics.median(latency_ms),
                "op_ms_tail": percentile(latency_ms, TAIL_PCT),
                "samples": sum(len(v) for v in per_query.values())}

    def per_layer(self, traced: list, plain: list,
                  reader) -> dict[str, float]:
        m = {k: 0.0 for k in LAYER_UNITS}
        m.update(self.layer)
        med = statistics.median
        stats = [u["stats"] for u in traced]
        for key, (field, scale) in OPERATOR_TOTALS.items():
            m[key] = med(s.values.get(field, 0.0) * scale for s in stats)
        m["operators.jobs"] = med(s.jobs for s in stats)
        m["operators.stages"] = med(s.stages for s in stats)
        m["operators.tasks"] = med(s.tasks for s in stats)
        m["operators.core_busy_share"] = med(
            u["stats"].values.get("executor_run_ms", 0.0)
            / (u["wall_s"] * 1e3 * self.cpus) for u in traced)
        if self.workload == "consume_drain":
            batches = [p for u in traced for p in u["progress"]]
            for key, name in STREAM_DURATIONS.items():
                m[key] = med(p.durationMs.get(name, 0) for p in batches)
            m["streaming.jobs_per_batch"] = med(
                u["stats"].jobs / max(1, len(u["progress"])) for u in traced)
            m["streaming.source_rows_per_event"] = med(
                sum(p.numInputRows for p in u["progress"])
                / self.backlog.events for u in traced)
            m["streaming.main_rows"] = med(u["main_rows"] for u in traced)
            m["streaming.dlq_rows"] = med(u["dlq_rows"] for u in traced)
            m["streaming.dedup_dropped_rows"] = med(
                self.backlog.events - u["dlq_rows"] - u["main_rows"]
                for u in traced)
            m["streaming.cross_batch_dups_leaked"] = med(
                u["leaked"] for u in traced)
        else:
            m["query_defs.builder_ms"] = med(u["builder_ms"] for u in traced)
            m["query_defs.exec_ms"] = med(u["exec_ms"] for u in traced)
        m["session.persisted_rdds"], m["session.storage_memory_bytes"] = (
            reader.storage())
        # Means, not low medians: the pairs alternate which unit runs
        # first, so over each two pairs a linear drift (the JIT still
        # compiling, the host) adds the same to both sides.
        plain_cpu_s = statistics.mean(map(_unit_cpu_s, plain))
        m["trace.overhead_cpu_s"] = (statistics.mean(map(_unit_cpu_s, traced))
                                     - plain_cpu_s)
        m["trace.overhead_share"] = m["trace.overhead_cpu_s"] / plain_cpu_s
        return m

    # -- driver --------------------------------------------------------

    def execute(self) -> dict:
        os.makedirs(self.run_dir, exist_ok=True)
        configure_environment(self.run_dir)
        with self.rss, self.tracer.span("run", workload=self.workload,
                                        seed=self.args.seed):
            setup_wall_s, setup_cpu_s = self.setup()
            with self.tracer.span("warmup"):
                if self.workload == "consume_drain":
                    warm = self.drain("warmup", kind="warmup")
                    warm_s, warm_cpu_s = warm["wall_s"], warm["cpu_s"]
                else:
                    warm_s, warm_cpu_s = self.warm_and_check()
            if self.args.trace:
                plain, traced, reader = self.measure_traced(self.args.seconds)
                e2e = self.end_to_end(plain)
                layer = self.per_layer(traced, plain, reader)
            else:
                e2e = self.end_to_end(self.measure(self.args.seconds))
        e2e["setup_s"] = setup_cpu_s + warm_cpu_s
        e2e["setup_wall_s"] = setup_wall_s + warm_s
        e2e["peak_rss_mb"] = self.rss.peak_bytes / 2 ** 20
        failed_ratio = self.failed / max(1, self.attempted)
        if self.args.trace:
            layer.update({k: e2e[k] for k in WALL_UNITS})
            layer["failed_ratio"] = failed_ratio
            trace_path = os.path.join(WORK, f"trace-{self.run_id}.json")
            self.tracer.write(trace_path)
            print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
        self.report(e2e, failed_ratio, warm_s)
        if self.args.trace:
            return {k: (layer[k], u) for k, u in LAYER_UNITS.items()}
        return {k: (e2e[k], u) for k, u in E2E_UNITS.items()}

    def report(self, e2e: dict, failed_ratio: float, warm_s: float) -> None:
        """Human-readable lines, with the workload's own metric names."""
        w = self.workload
        lines = [f"workload {w} seed {self.args.seed} cores {self.cpus} "
                 f"driver heap {os.environ['SPARK_DRIVER_MEMORY']}",
                 f"warm-up {warm_s:.3f} s wall (part of setup)",
                 f"samples {e2e['samples']} tail p{TAIL_PCT:g}"]
        for k, unit in {**E2E_UNITS, **WALL_UNITS}.items():
            lines.append(f"{k} = {e2e[k]:.4f} {unit}")
        if w == "consume_drain":
            lines += [f"events_per_s = {self.backlog.events / e2e['pass_s']:.1f}"
                      " 1/s",
                      f"batch_ms_p50 = {e2e['op_ms_p50']:.1f} ms",
                      f"batch_ms_tail = {e2e['op_ms_tail']:.1f} ms",
                      f"expected per drain: {self.backlog.main_rows} main, "
                      f"{self.backlog.dlq_rows} dlq, "
                      f"{self.backlog.dedup_dropped} dedup-dropped, "
                      f"{self.backlog.redelivered} cross-batch redeliveries"]
        elif w == "event_queries":
            lines += [f"queries_per_s = {len(QUERIES[w]) / e2e['pass_s']:.3f}"
                      " 1/s",
                      f"query_ms_p50 = {e2e['op_ms_p50']:.1f} ms",
                      f"query_ms_tail = {e2e['op_ms_tail']:.1f} ms"]
        lines.append(f"failed_ratio = {failed_ratio:.4f} "
                     f"({self.failed} of {self.attempted} operations)")
        lines += [f"FAILED {n}" for n in self.notes]
        print("\n".join(lines), flush=True)

    def close(self) -> None:
        """Stop Spark, the JVM and every Python worker; wait for each."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            if self.spark is not None:
                self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
        except Exception:   # a broken session: the JVM is stopped below
            traceback.print_exc()
        if proc is not None:
            proc.stdin.close()      # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap_descendants()


def _unit_cpu_s(unit: dict) -> float:
    """CPU seconds of one drain, or of one pass's queries."""
    cpu = unit["cpu_s"]
    return sum(cpu.values()) if isinstance(cpu, dict) else cpu


def _iso_seconds(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _reap_descendants(timeout_s: float = 15.0) -> None:

    t_end = time.monotonic() + timeout_s
    while True:
        left = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > t_end:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            t_end = time.monotonic() + timeout_s
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: run from the repository root: no {PACKAGE}/ in "
              f"{ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    run = None
    try:
        run = Run(args)
        metrics = run.execute()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if run is not None:
            run.close()
            shutil.rmtree(run.run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
