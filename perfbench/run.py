"""Benchmark entry point: one workload, one process, Spark on local[2].

    python3 perfbench/run.py --workload feed_ingest --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. It builds the seeded inputs, sets the
workload up, times cycles ``0 .. n-1``, checks the outputs and prints one
JSON object as the last line of standard output. ``n`` is ``--seconds``
over the workload's reference cycle time (``CYCLE_S``), rounded up: it
depends on ``--seconds`` only, so a faster program times the same cycles.

- ``--trace 0``: the end-to-end metrics of ``BENCHMARK.json`` (tracing off);
- ``--trace 1``: the per-layer metrics of the same cycles, traced; layer
  metrics are per cycle. ``trace.rows_per_s`` is the traced throughput, to
  set beside ``rows_per_s`` of a ``--trace 0`` run with the same seed, and
  ``trace.overhead_rows_per_s`` is traced minus untraced throughput, the
  untraced wall time being the traced one less the tracer's own time.
  Spans are written to ``perfbench/_out/``.

The line before it is a JSON ``detail`` object (cycle times, ungated tail
percentile, output-check findings). The exit code is 1 when an output
check fails and 2 when the checkout lacks the program.

Spark runs through the program's own session factory with its tuning, on
``local[2]`` with a 2 GiB driver heap, two GC threads and two JIT compiler
threads: on a 4-vCPU shared host that leaves room for the Python driver
and the JVM's own threads, so the run measures the program rather than
the scheduler. Every scratch file (Spark local dirs, JVM and Python temp
files) stays under ``perfbench/_work/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = 2  # task slots: half of a 4-vCPU host, room for the JVM's own threads
JVM_THREADS = "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def configure(work: str) -> None:
    """Point every scratch directory into ``work`` before Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM, the launcher's too: no /tmp/hsperfdata_* file, and few
    # GC and compiler threads
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData {JVM_THREADS}"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_NO_PROGRESS"] = "1"
    # The factory sets master and a 48g driver heap unless told the
    # cluster supplies them; supply them here, sized for a shared host.
    os.environ["SPARK_GRAFT_ON_CLUSTER"] = "1"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--master", f"local[{CPUS}]",
        "--driver-memory", "2g",
        "--conf", f"spark.local.dir={os.path.join(work, 'spark-local')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def steal_ticks() -> int:
    """Host steal time of this VM so far (clock ticks), for the detail
    line: time the hypervisor ran other guests on our CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def tail_percentile(values: list[float]) -> tuple[float | None, float | None]:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None, None
    p = int(100 * (n - 10) / n)
    return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def timed_loop(wl, tracer, cpu, n: int, trace: bool) -> list[dict]:
    """Cycles ``0 .. n-1``, traced with ``trace``. The status store is read
    after every traced cycle, so the jobs of a cycle stay within its
    retention."""
    cycles: list[dict] = []
    for k in range(n):
        wl.prepare(k)
        tracer.enabled, tracer.cycle = trace, k
        py0, jvm0 = cpu.read()
        t0 = time.perf_counter()
        with tracer.span("cycle"):
            rows = wl.cycle(k)
        wall = time.perf_counter() - t0
        py1, jvm1 = cpu.read()
        tracer.enabled = False
        if trace:
            tracer.harvest()
        cycles.append({"k": k, "wall_s": wall, "rows": rows,
                       "py_cpu_s": py1 - py0, "jvm_cpu_s": jvm1 - jvm0})
    return cycles


def end_to_end(cycles: list[dict], setup_s: float, stored: float) -> dict:
    walls = [c["wall_s"] for c in cycles]
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (sum(c["rows"] for c in cycles) / sum(walls), "rows/s"),
        "cycle_p50_s": (statistics.median(walls), "s"),
        "cpu_s": (sum(c["py_cpu_s"] + c["jvm_cpu_s"] for c in cycles) / len(cycles), "s"),
        "stored_bytes_per_input_byte": (stored, "ratio"),
    }


def per_layer(tracer, cycles: list[dict], extra_pairs: int) -> dict:
    from perfbench.workloads import REGISTRY_WRITES, SWEEP_QUERIES

    n = len(cycles)
    rows, wall = sum(c["rows"] for c in cycles), sum(c["wall_s"] for c in cycles)
    spans = tracer.spans
    jobs = tracer.jobs

    def named(prefix):
        return [s for s in spans if s["name"] == prefix or s["name"].startswith(prefix + ".")]

    def secs(ss):
        return sum(s["end"] - s["start"] for s in ss) / n

    def count(ss):
        return len(ss) / n

    def spark(ss, key):
        return sum(jobs.get(s["id"], {}).get(key, 0) for s in ss) / n

    def field(ss, key):
        return sum(s.get(key, 0) for s in ss) / n

    reg = named("registry")
    appends = named("ingest.append")
    gates = named("maintenance.maybe_compact")
    compactions = named("maintenance.compact_table")
    excel = named("sources.excel_to_csv")
    renders = named("reports.render_report")
    plans, execs = named("queries.plan"), named("queries.exec")
    ops = named("operators")
    store_io = [s for s in ops if s["name"].split(".")[-1] in ("ingest", "retract", "compact")]
    m = {
        "registry.calls": (count(reg), "count/cycle"),
        "registry.write_calls": (
            count([s for s in reg if s["name"].split(".")[1] in REGISTRY_WRITES]),
            "count/cycle"),
        "registry.s": (secs(reg), "s/cycle"),
        "registry.spark_jobs": (spark(reg, "jobs"), "count/cycle"),
        "ingest.run_file_s": (secs(named("ingest.run_file")), "s/cycle"),
        "ingest.append_s": (secs(appends), "s/cycle"),
        "ingest.append_spark_jobs": (spark(appends, "jobs"), "count/cycle"),
        "ingest.files_written": (field(appends, "files_written"), "count/cycle"),
        "ingest.bytes_written": (field(appends, "bytes_written"), "B/cycle"),
        "sources.excel_to_csv_s": (secs(excel), "s/cycle"),
        "sources.excel_files": (count(excel), "count/cycle"),
        "maintenance.compactions": (count(compactions), "count/cycle"),
        "maintenance.compact_s": (secs(gates), "s/cycle"),
        "maintenance.bytes_rewritten": (field(compactions, "bytes_written"), "B/cycle"),
        "queries.plan_s": (secs(plans), "s/cycle"),
        "queries.exec_s": (secs(execs), "s/cycle"),
    }
    for q in SWEEP_QUERIES:
        m[f"queries.{q}.plan_s"] = (secs([s for s in plans if s["query"] == q]), "s/cycle")
        m[f"queries.{q}.exec_s"] = (secs([s for s in execs if s["query"] == q]), "s/cycle")
    m.update({
        "reports.render_s": (secs(renders), "s/cycle"),
        "reports.rows_rendered": (field(renders, "rows"), "count/cycle"),
        "operators.edgestore.ingest_s": (secs(named("operators.edgestore.ingest")), "s/cycle"),
        "operators.edgestore.serve_s": (secs(named("operators.edgestore.serve")), "s/cycle"),
        "operators.rollup.ingest_s": (secs(named("operators.rollup.ingest")), "s/cycle"),
        "operators.rollup.serve_s": (secs(named("operators.rollup.serve")), "s/cycle"),
        "operators.retract_s": (
            secs([s for s in ops if s["name"].endswith(".retract")]), "s/cycle"),
        "operators.compact_s": (
            secs([s for s in ops if s["name"].endswith(".compact")]), "s/cycle"),
        "operators.bytes_written": (field(store_io, "bytes_written"), "B/cycle"),
        "operators.files_written": (field(store_io, "files_written"), "count/cycle"),
        "operators.edgestore.extra_pairs": (extra_pairs, "count"),
    })
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("task_cpu_s", "s"), ("task_run_s", "s"), ("shuffle_read_bytes", "B"),
                      ("shuffle_write_bytes", "B"), ("output_bytes", "B"), ("spill_bytes", "B"),
                      ("gc_s", "s")):
        m[f"spark.{key}"] = (spark(spans, key), f"{unit}/cycle")
    m.update({
        "driver.py_cpu_s": (sum(c["py_cpu_s"] for c in cycles) / n, "s/cycle"),
        "driver.jvm_cpu_s": (sum(c["jvm_cpu_s"] for c in cycles) / n, "s/cycle"),
        "trace.rows_per_s": (rows / wall, "rows/s"),
        "trace.overhead_rows_per_s": (rows / wall - rows / (wall - tracer.own_s), "rows/s"),
        "trace.own_s": (tracer.own_s / n, "s/cycle"),
        "trace.cycles": (n, "count"),
        "trace.spans": (count(spans), "count/cycle"),
    })
    return m


def layer_split(workload: str, m: dict) -> list[str]:
    """The layer split the traced run must confirm."""
    problems = []
    writes = m["registry.write_calls"][0]
    if workload == "feed_ingest" and not writes:
        problems.append("feed_ingest traced no registry writes")
    if workload == "report_sweep" and writes:
        problems.append("report_sweep wrote to the registry in its timed phase")
    if workload != "corpus_maintenance":
        moved = [k for k, (v, _) in m.items()
                 if k.startswith("operators.") and v]
        if moved:
            problems.append(f"{workload} touched the operators layer: {moved}")
    return problems


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "etl_database_spark", "__init__.py")):
        print(f"no etl_database_spark package under {ROOT}: run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure(work)

    from etl_database_spark.session import get_spark
    from perfbench.trace import CpuClock, Tracer
    from perfbench.workloads import patch_program

    steal0 = steal_ticks()
    spark = get_spark(f"perfbench-{args.workload}")
    jvm_s = time.perf_counter() - PROCESS_START
    try:
        sc = spark.sparkContext
        tracer = Tracer(sc, args.workload)
        cpu = CpuClock(sc._gateway.proc.pid)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.bootstrap()
        boot_s = time.perf_counter() - t0
        setup_s = jvm_s + gen_s + boot_s
        if args.trace:
            patch_program(tracer)
        n = max(1, math.ceil(args.seconds / wl.CYCLE_S))
        cycles = timed_loop(wl, tracer, cpu, n, bool(args.trace))
        problems = wl.check()
        if args.trace:
            metrics = per_layer(tracer, cycles, wl.detail.get("extra_pairs", 0))
            problems += layer_split(args.workload, metrics)
            tracer.write(os.path.join(HERE, "_out", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(cycles, setup_s, wl.stored_ratio())
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    walls = [c["wall_s"] for c in cycles]
    pct, tail = tail_percentile(walls)
    detail = dict(
        workload=args.workload, seed=args.seed, cycles=cycles, jvm_s=jvm_s, gen_s=gen_s,
        bootstrap_s=boot_s, steal_s=(steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK"),
        cycle_count=len(walls), tail_percentile=pct, tail_cycle_s=tail, problems=problems,
        errors=wl.errors[:5], **wl.detail,
    )
    print(json.dumps({"detail": detail}, default=str))
    correct = not problems and not wl.failed
    print(json.dumps({
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
