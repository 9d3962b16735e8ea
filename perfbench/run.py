"""Closed-loop, single-client benchmark of the engine's public functions.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. One client issues each operation after the
previous one has finished, on ``local[<nproc / 2>]``. Inputs are generated
from ``--seed`` and cached under ``.perfbench_data/`` by (seed, size);
generation is never timed. A run:

1. sets up: ``setup_s`` runs from process start until the session is
   up, the registry is loaded and the warmup has run;
2. runs the workload's untimed warm-up passes, then times
   ``round(--seconds / nominal pass time)`` whole passes over its
   operations, at least one; the count depends on ``--seconds`` alone,
   so every run of a workload does the same work however loaded the
   host is;
3. checks every output after the timed passes; an operation that raised
   or returned a wrong output counts in ``failed`` and the pass goes on;
4. prints a report, then one JSON line with the end-to-end metrics
   (``--trace 0``) or the per-layer metrics of one traced pass
   (``--trace 1``), in the order ``BENCHMARK.json`` lists them.

See ``README.md`` for the workloads, the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback


def _process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: process age at import, and the clock it is extended with
_AGE_AT_IMPORT, _T_IMPORT = _process_age_s(), time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")
#: Driver heap of the benchmark's session (the engine's own default is 8g).
DRIVER_MEM = "1536m"
#: Heap layout of the driver JVM: the whole heap committed and touched at
#: start, a fixed young generation and the serial collector. The resident
#: heap is then the same in every run; left to grow, it followed when
#: garbage happened to be promoted, not what the workload needed.
DRIVER_HEAP_OPTS = f"-Xms{DRIVER_MEM} -Xmn256m -XX:+UseSerialGC -XX:+AlwaysPreTouch"
#: Spark task threads: half the cores, so that the JVM's compiler and
#: collector, Spark's Python workers and this process have cores of
#: their own instead of competing with the tasks.
CORES = max(1, (os.cpu_count() or 2) // 2)
#: Seconds between two /proc samples of resident memory.
RSS_PERIOD_S = 0.25

sys.path.insert(0, HERE)


def _env() -> str:
    """Keep every file the run writes inside the checkout and put the
    repository on the Python path of Spark's Python workers."""
    tmp = os.path.join(DATA, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        PYTHONPATH=ROOT if not path else f"{ROOT}{os.pathsep}{path}",
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # the launcher JVM that spark-submit starts first: no hsperfdata
        # file under /tmp (the driver JVM gets the same flag in setup)
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return tmp


def setup(tmp: str):
    """Session up, registry loaded, warmup done.
    Returns (spark, registry, seconds since process start, seconds the
    session took to come up)."""
    t0 = time.perf_counter()
    from bigdata_flightanalysis_spark.session import get_session

    spark = get_session(
        "perfbench",
        cores=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # no hsperfdata file under /tmp: a run writes only in its checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {DRIVER_HEAP_OPTS}"),
        },
    )
    t_session = time.perf_counter() - t0
    from bigdata_flightanalysis_spark.queries.catalog import load_all

    registry = load_all()
    _warmup(spark, os.path.join(tmp, "warmup"))
    setup_s = _AGE_AT_IMPORT + time.perf_counter() - _T_IMPORT
    return spark, registry, setup_s, t_session


def _warmup(spark, path: str) -> None:
    """Start what every workload's first operation would otherwise pay
    for: a parquet write and read, a shuffle, a join, a Python worker."""
    from pyspark.sql import functions as F

    spark.range(10_000).selectExpr("id % 10 AS k", "id AS v").write.parquet(path)
    df = spark.read.parquet(path)
    plus_one = F.udf(lambda x: x + 1, "long")
    (df.groupBy("k").agg(F.sum("v").alias("s"))
     .join(df.select("k").distinct(), "k")
     .select(plus_one("s")).collect())


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the driver JVM and Spark's Python workers), sampled from /proc."""

    def __init__(self):
        self.peak_bytes = 0
        #: (pid, MB) of every process in the tree at the peak
        self.peak_parts: list[tuple[int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self):
        page = os.sysconf("SC_PAGE_SIZE")
        while True:
            total, parts = _tree_rss(os.getpid(), page)
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_parts = total, parts
            if self._stop.wait(RSS_PERIOD_S):
                return


def _tree_rss(root: int, page: int) -> tuple[int, list[tuple[int, int]]]:
    procs: dict[int, tuple[int, str, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        procs[int(name)] = (int(fields[1]), head.split("(", 1)[1], int(fields[21]) * page)
    return tree_rss(root, procs)


def tree_rss(root: int, procs: dict[int, tuple[int, str, int]]):
    """(bytes, [(pid, MB)]) summed over ``root`` and its descendants, from
    pid -> (parent pid, command name, resident bytes). A child the JVM
    spawns for a moment (a shell command, a helper) is skipped with its
    subtree: until it execs, it shares the JVM's pages and reports the
    whole heap as its own. Spark's Python daemon, a JVM child, counts."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm, _rss) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo, parts = 0, [root], []
    while todo:
        pid = todo.pop()
        ppid, comm, rss = procs.get(pid, (0, "", 0))
        if (pid != root and procs.get(ppid, (0, "", 0))[1] == "java"
                and not comm.startswith("python")):
            continue
        total += rss
        parts.append((pid, rss >> 20))
        todo += children.get(pid, [])
    return total, parts


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


def run_pass(workload, tracer, rng, pass_no: int):
    from workloads import PassResult, Record

    result = PassResult()
    workload.begin_pass()
    ops = workload.ops(rng)
    t0 = time.perf_counter()
    for op in ops:
        tracer.next_op()
        start = time.perf_counter()
        try:
            with tracer.span(f"op.{op.kind}"):
                out, err = op.run(), None
        except Exception as exc:  # one failed op never aborts the pass
            out, err = None, f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        result.records.append(
            Record(op.name, op.kind, pass_no, time.perf_counter() - start, out, err)
        )
    result.wall_s = time.perf_counter() - t0
    workload.end_pass(result)
    return result


def timed_passes(seconds: float, nominal_pass_s: float) -> int:
    """Timed passes in a run of ``seconds``: as many as fit at the
    workload's nominal pass time, at least one."""
    return max(1, round(seconds / nominal_pass_s))


def verify(workload, passes, ops_by_name) -> None:
    """Check every output after timing; a mismatch becomes the record's error."""
    for p in passes:
        if hasattr(workload, "verify_pass"):
            workload.verify_pass(p.records)
        for r in p.records:
            check = ops_by_name.get(r.name)
            if r.error is not None or check is None:
                continue
            try:
                check(r.output)
            except Exception as exc:
                r.error = f"{type(exc).__name__}: {exc}"
        for r in p.records:
            r.output = None  # release outputs once checked


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(setup_s, passes, peak_rss) -> dict[str, tuple[float | None, str, int]]:
    """name -> (value, unit, samples). A percentile is None when fewer
    than ten samples lie beyond it."""
    from spans import percentile

    lat = [r.latency_s for p in passes for r in p.records]
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for r in p.records:
            by_op.setdefault(r.name, []).append(r.latency_s)
    op_medians = [statistics.median(v) for v in by_op.values()]
    serves = [r.latency_s for p in passes for r in p.records if r.kind == "serve"]
    n_fail = sum(r.error is not None for p in passes for r in p.records)
    walls = [p.wall_s for p in passes]
    out = {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (statistics.median(walls), "s", len(walls)),
        "op_p50_s": (percentile(lat, 0.5), "s", len(lat)),
        "op_geomean_s": (math.exp(statistics.fmean(map(math.log, op_medians))), "s",
                         len(lat)),
        "op_p90_s": (percentile(lat, 0.9), "s", len(lat)),
        "failed_frac": (n_fail / len(lat), "ratio", len(lat)),
        "peak_rss_mb": (peak_rss / 2**20, "MB", 1),
    }
    if serves:
        out["serve_p50_s"] = (percentile(serves, 0.5), "s", len(serves))
        out["serve_p75_s"] = (percentile(serves, 0.75), "s", len(serves))
    for key, unit in (("ingest_rows_per_s", "rows/s"),
                      ("store_bytes_per_input_byte", "ratio")):
        vals = [p.extra[key] for p in passes if key in p.extra]
        if vals:
            out[key] = (statistics.median(vals), unit, len(vals))
    return out


def per_layer(spans, traced, session_s, overhead) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of one traced pass."""
    from spans import COUNTERS, counters_by_name, percentile, self_time_by_name

    self_s = self_time_by_name(spans)
    ctr = counters_by_name(spans)

    def s(name):
        return self_s.get(name, 0.0)

    def c(name, key, prefix=False):
        return sum(v[key] for n, v in ctr.items()
                   if (n.startswith(name) if prefix else n == name))

    total = {k: sum(v[k] for v in ctr.values()) for k in COUNTERS}
    serves = [r.latency_s for r in traced.records if r.kind == "serve"]
    ex = traced.extra
    m = {
        "session.start_s": (session_s, "s"),
        "sources.read_s": (s("sources.read"), "s"),
        "sources.read_calls": (sum(x.name == "sources.read" for x in spans), "count"),
        "sources.read_jobs": (c("sources.read", "jobs"), "count"),
        "queries.build_s": (s("queries.build"), "s"),
        "queries.build_jobs": (c("queries.build", "jobs"), "count"),
        "queries.build_tasks": (c("queries.build", "tasks"), "count"),
        "plans.plan_s": (s("plans.plan"), "s"),
        "spark.action_s": (s("spark.action"), "s"),
        "operators.exact_dedup_s": (s("operators.exact_dedup"), "s"),
        "operators.near_dup_s": (s("operators.near_dup"), "s"),
        "operators.embed_near_dup_s": (s("operators.embed_near_dup"), "s"),
        "operators.connected_components_s": (s("operators.connected_components"), "s"),
        "operators.ingest_jobs": (
            sum(c(f"operators.{k}", "jobs") for k in
                ("exact_dedup", "near_dup", "embed_near_dup")), "count"),
        "operators.store_bytes": (ex.get("store_bytes", 0), "bytes"),
        "operators.store_files": (ex.get("store_files", 0), "count"),
        "operators.ingest_rows_per_s": (ex.get("ingest_rows_per_s", 0.0), "rows/s"),
        "operators.store_bytes_per_input_byte": (
            ex.get("store_bytes_per_input_byte", 0.0), "ratio"),
        "retrieval.build_s": (s("retrieval.build"), "s"),
        "retrieval.refresh_s": (s("retrieval.refresh"), "s"),
        "retrieval.compact_s": (s("retrieval.compact"), "s"),
        "retrieval.serve_s": (s("retrieval.serve"), "s"),
        "retrieval.serve_jobs": (c("retrieval.serve", "jobs"), "count"),
        "retrieval.index_files": (ex.get("index_files", 0), "count"),
        "retrieval.serve_p50_s": (percentile(serves, 0.5) or 0.0, "s"),
        "pipeline.clean_s": (s("pipeline.clean"), "s"),
        "pipeline.fit_s": (s("pipeline.fit"), "s"),
        "pipeline.silhouette_s": (s("pipeline.silhouette"), "s"),
        "pipeline.jobs": (c("pipeline.", "jobs", prefix=True), "count"),
        "trace.overhead_frac": (overhead, "ratio"),
    }
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                    ("spill_bytes", "bytes"), ("executor_run_s", "s"),
                    ("executor_cpu_s", "s"), ("gc_s", "s"), ("task_failures", "count")):
        m[f"spark.{k}"] = (total[k], unit)
    return m


def result_metrics(values: dict, spec_metrics: list[dict]) -> dict:
    """The result line's metrics: every metric ``BENCHMARK.json`` names,
    in its order, with the unit it declares."""
    out = {}
    for m in spec_metrics:
        value, unit = values[m["name"]][:2]
        if value is None or unit != m["unit"]:
            raise ValueError(f"metric {m['name']}: {value!r} {unit!r} vs {m['unit']!r}")
        out[m["name"]] = {"value": value, "unit": unit}
    return out


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bigdata_flightanalysis_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    tmp = _env()
    spark, registry, setup_s, session_s = setup(tmp)
    try:
        return _measure(args, spark, registry, setup_s, session_s)
    finally:
        stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def _measure(args, spark, registry, setup_s, session_s) -> int:
    import workloads
    from spans import Tracer

    tracer = Tracer(False, spark)
    t_inputs = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](spark, registry, tracer, args.seed, DATA)
    t_inputs = time.perf_counter() - t_inputs
    rng = random.Random(args.seed)
    checks = {op.name: op.check for op in wl.ops(random.Random(0))}
    if args.trace:
        _install_layer_wrappers(tracer)
    warm, passes = [], []
    with RssSampler() as rss:
        for _ in range(wl.warmup_passes):
            warm.append(run_pass(wl, tracer, rng, len(warm)))
        tracer.enabled = bool(args.trace)
        # a traced run times one pass: its structural counts then repeat
        # exactly from run to run
        n_timed = 1 if args.trace else timed_passes(args.seconds, wl.nominal_pass_s)
        for _ in range(n_timed):
            passes.append(run_pass(wl, tracer, rng, len(warm) + len(passes)))
        tracer.enabled = False
    t_verify = time.perf_counter()
    verify(wl, warm + passes, checks)
    t_verify = time.perf_counter() - t_verify
    print(f"untimed: inputs {t_inputs:.1f} s, checks {t_verify:.1f} s, "
          f"warm-up passes {' '.join(f'{p.wall_s:.2f}' for p in warm) or 'none'} s")
    print(f"timed passes: {' '.join(f'{p.wall_s:.2f}' for p in passes)} s")
    print("MB per process at the RSS peak: "
          + " ".join(f"{pid}:{mb}" for pid, mb in rss.peak_parts))

    # warm-up outputs are checked and counted like timed ones
    attempted = sum(len(p.records) for p in warm + passes)
    failed = sum(r.error is not None for p in warm + passes for r in p.records)
    for p in warm + passes:
        for r in p.records:
            if r.error is not None:
                print(f"FAILED pass {r.pass_no} {r.name}: {r.error[:300]}")
    spec = benchmark_spec()
    if args.trace:
        p = passes[0]
        overhead = tracer.overhead_s / (p.wall_s - tracer.overhead_s)
        values = per_layer(tracer.spans, p, session_s, overhead)
        _write_spans(tracer.spans, args)
        for k, (v, unit) in values.items():
            print(f"layer {k} = {v:.6g} {unit}")
        metrics = result_metrics(values, spec["per_layer"])
    else:
        values = end_to_end(setup_s, passes, rss.peak_bytes)
        _print_op_summary(passes)
        for k, (v, unit, n) in values.items():
            shown = "n/a (fewer than 10 samples beyond it)" if v is None else f"{v:.6g} {unit}"
            print(f"metric {k} = {shown} (n={n})")
        metrics = result_metrics(values, spec["end_to_end"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _print_op_summary(passes) -> None:
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for r in p.records:
            by_op.setdefault(r.name.split("[", 1)[0], []).append(r.latency_s)
    for name, lat in sorted(by_op.items()):
        print(f"op {name}: n={len(lat)} median={statistics.median(lat):.4f} s")


def _install_layer_wrappers(tracer) -> None:
    """For the traced run only: wrap the readers' entry points and the
    pipeline's stages in spans, everywhere the engine bound them, so read
    spans nest under the query span that made them."""
    from bigdata_flightanalysis_spark.pipeline import flights
    from bigdata_flightanalysis_spark.sources import readers

    targets = [(readers, n, "sources.read") for n in ("read_table", "read_csv")]
    targets += [(flights, "clean_flights_2019", "pipeline.clean"),
                (flights, "clean_flights_2023", "pipeline.clean"),
                (flights, "fit_kmeans", "pipeline.fit"),
                (flights, "silhouette", "pipeline.silhouette")]
    for mod, attr, span in targets:
        orig = getattr(mod, attr)

        def wrapped(*a, __orig=orig, __span=span, **kw):
            with tracer.span(__span):
                return __orig(*a, **kw)

        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("bigdata_flightanalysis_spark"):
                for name, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, name, wrapped)


def _write_spans(spans, args) -> None:
    path = os.path.join(DATA, "spans", f"{args.workload}_s{args.seed}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({
                "id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                "start": s.start, "end": s.end, "counters": s.counters,
            }) + "\n")
    print(f"spans written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
