"""Count Spark's generated-code compilations per query and per pass.

    python tools/codegen_probe.py [--passes N] [--seed S] [--data DIR] \
        [name ...]

Run from the repository root. Every name is run once per pass, in
order, in one `session.get_spark` session (`local[nproc]`, the
benchmark's driver heap and temp-dir layout). A name is a registry
query (builder + noop-sink action, as `perfbench/run.py` times it) or
`consume_drain`: one drain of a 6 x 2,000-event backlog through
`streaming.pipeline.consume_to_tables`, 1 file per trigger. The
default list is the benchmark's `event_queries`.

Per pass and per name it prints the Janino compilations
(`CodegenMetrics.METRIC_COMPILATION_TIME` count), their compile
milliseconds (the sum of that histogram's new samples) and the CPU
seconds of the process tree (Python, the JVM and its children). Pass 0
is the cold pass; from pass 1 on, a query whose generated classes all
stay in the cache compiles nothing.

Queries read the benchmark's seeded sf0.1-sized `events` and `orders`
(`perfbench/loadgen.py`) unless `--data` names a fixture directory.
To compare two trees, run the same command from a checkout of each.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

import loadgen  # noqa: E402
from run import (BACKLOG_FILES, BACKLOG_ROWS_PER_FILE,  # noqa: E402
                 QUERIES, configure_environment, cpu_count)
from tracing import tree_cpu_s  # noqa: E402

DRAIN = "consume_drain"
# Codahale's default reservoir keeps every sample up to this many; past
# it the compile-ms sums are estimates (the counts stay exact).
RESERVOIR = 1028


class Compilations:
    """Reads the JVM-wide count and summed milliseconds of Janino
    compilations (both only grow)."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._hist = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                      .METRIC_COMPILATION_TIME())
        self._arrays = jvm.java.util.Arrays

    def read(self) -> tuple[int, int]:
        values = self._hist.getSnapshot().getValues()
        return self._hist.getCount(), self._arrays.stream(values).sum()


def row(p: int, name: str, start: tuple[int, int], end: tuple[int, int],
        cpu_s: float, wall: str = "") -> str:
    """One output line; compile ms past the reservoir are marked `~`."""
    ms = ("~" if end[0] > RESERVOIR else "") + str(end[1] - start[1])
    return (f"{p:>4} {name:<30} {end[0] - start[0]:>8} {ms:>10} "
            f"{cpu_s:>7.2f} {wall:>7}")


def drain_once(spark, pipeline, backlog_dir: str, out_dir: str) -> None:
    query = pipeline.consume_to_tables(
        pipeline.read_event_stream(spark, backlog_dir,
                                   max_files_per_trigger=1),
        f"{out_dir}/main", f"{out_dir}/dlq", f"{out_dir}/checkpoint")
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"drain failed: {query.exception()}")
    shutil.rmtree(out_dir)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", default=QUERIES["event_queries"])
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--seed", type=int, default=21)
    ap.add_argument("--data", help="fixture directory the queries read "
                    "(default: generate the benchmark's tables)")
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="codegen-probe-")
    configure_environment(work)
    from event_streaming_service_spark.queries import REGISTRY, _load_all
    from event_streaming_service_spark.session import get_spark
    from event_streaming_service_spark.sources.fixtures import (
        prepare_splittable)
    from event_streaming_service_spark.streaming import pipeline

    _load_all()
    unknown = [n for n in args.names if n != DRAIN and n not in REGISTRY]
    if unknown:
        ap.error(f"unknown names: {', '.join(unknown)}")
    cpus = cpu_count()
    spark = get_spark("codegen-probe", cpus=cpus)
    try:
        data_dir = args.data
        if data_dir is None and any(n != DRAIN for n in args.names):
            tables = os.path.join(work, "tables")
            loadgen.write_tables(tables, args.seed)
            data_dir = prepare_splittable(tables, os.path.join(work, "split"),
                                          target_files=cpus)
        backlog_dir = os.path.join(work, "backlog")
        if DRAIN in args.names:
            loadgen.write_backlog(backlog_dir, args.seed, BACKLOG_FILES,
                                  BACKLOG_ROWS_PER_FILE)

        probe = Compilations(spark)
        print(f"{'pass':>4} {'name':<30} {'compiles':>8} {'compile_ms':>10} "
              f"{'cpu_s':>7} {'wall_s':>7}", flush=True)
        for p in range(args.passes):
            pass_start, c0 = probe.read(), tree_cpu_s()
            for name in args.names:
                start = probe.read()
                c1, t1 = tree_cpu_s(), time.perf_counter()
                if name == DRAIN:
                    drain_once(spark, pipeline, backlog_dir,
                               os.path.join(work, f"drain-{p}"))
                else:
                    (REGISTRY[name].builder(spark, data_dir).write
                     .format("noop").mode("overwrite").save())
                wall = f"{time.perf_counter() - t1:.2f}"
                print(row(p, name, start, probe.read(), tree_cpu_s() - c1,
                          wall), flush=True)
            print(row(p, "PASS TOTAL", pass_start, probe.read(),
                      tree_cpu_s() - c0), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
