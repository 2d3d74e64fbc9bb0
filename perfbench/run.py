"""Closed-loop benchmark of sedona_db_spark.

    python3 perfbench/run.py --workload spatial_sql --seed 1 \
        --seconds 15 --trace 0

Run from the repository root.  One process, one client, the engine at
``local[2]``, pinned to two CPUs while it is timed (see
``ENGINE_CPUS``): the client sends the next query only when the
previous one has returned its rows.  The seed generates every input and
parameter (perfbench/datagen.py); the engine sees only generated files.

A run sets up (JVM, function registration, table loading, workload
prep, warm-up), then times as many whole cycles of the workload's query
mix as fit ``--seconds`` at the workload's nominal cycle length (at
least two), checking each result as
it returns, outside its latency.  A query that raises or returns a wrong
result counts as failed, and in the latency percentiles it counts as
slower than any limit (it takes the value of the whole measurement
window).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run times half its window
untraced and half traced and reports the per-layer metrics (tracing.py),
writing the span file under ``.perfbench/traces/``.  The line before it
carries run details: host sizing, input digest, per-class latencies.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")

# metrics of the operator entry points the workloads call
OPERATORS = ("spatial_join", "spatial_join_bucketed", "write_bucketed_layout",
             "knn_join", "minhash_candidate_pairs")
CLASSES = ("sql_join", "api_join", "knn", "scalar", "write", "layout",
           "cold_query")
SPARK_EXEC = ("s", "jobs", "exchanges", "scan_s", "scan_bytes",
              "shuffle_write_bytes", "shuffle_write_s", "broadcast_s")
PYTHON = ("arrow_eval_nodes", "python_run_s", "python_init_s",
          "python_start_s", "bytes_to_python", "bytes_from_python")
PHASES = ("parsing", "analysis", "optimization", "planning")


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (interpreter start
    included in set-up time)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


# The engine runs at local[2], and for the timed queries the whole
# process tree is pinned to two CPUs.  On a shared host a run that keeps
# every vCPU busy loses a varying share of them to other guests (CPU
# steal), and its timings follow the neighbours: on a 4-vCPU guest,
# local[4] runs moved by a factor of two within half an hour, with steal
# between 0.3% and 25% of CPU time; over ten seeds of runs pinned to two
# CPUs, the quartiles of each end-to-end metric lay within 10% of its
# median.  Set-up runs unpinned: JIT compilation then has the other
# CPUs, which shortens set-up by a fifth.  The JVM sizes its GC and JIT
# thread pools for the two CPUs; in interleaved runs that gave a fifth
# more queries per second than pools sized for four.
ENGINE_CPUS = 2


def host_sizing() -> dict:
    allowed = sorted(os.sched_getaffinity(0))
    # the highest-numbered CPUs: CPU 0 takes most device interrupts
    pinned = allowed[-ENGINE_CPUS:]
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal")) // 1024
    # a sixteenth of RAM, at most 1 GiB: the inputs are a few MB and the
    # host's memory is shared
    return {"host_cpus": len(allowed), "cpus": len(pinned), "pinned": pinned,
            "mem_total_mb": mem_mb,
            "driver_mem": f"{min(1024, mem_mb // 16)}m"}


def configure_env(sizing: dict) -> None:
    for d in ("warehouse", "spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(sizing["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": sizing["driver_mem"],
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_SUBMIT_ARGS": " ".join((
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            # GC and JIT thread pools sized for the CPUs the timed
            # queries get, not for every CPU of the host
            shlex.quote(f"-XX:ActiveProcessorCount={sizing['cpus']} "
                        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")),
            "pyspark-shell")),
        # Python workers import the engine from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    kids, out, todo = _proc_children(), [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def pin_tree(cpus) -> None:
    """Pin every thread of this process and its descendants (the JVM,
    the Python worker daemon and workers) to ``cpus``; threads and
    processes started later inherit the mask."""
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (JVM,
    Python workers)."""
    total, tick = 0.0, os.sysconf("SC_CLK_TCK")
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) / tick
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs; steal is time the
    hypervisor ran other guests on this host's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith("VmHWM")) / 1024


def quantile(vals: list[float], q: float) -> float:
    """Interpolated sample quantile (the inclusive method)."""
    return statistics.quantiles(vals, n=100, method="inclusive")[
        round(q * 100) - 1]


def hd_median(vals: list[float]) -> float:
    """Harrell-Davis estimate of the median: a Beta-weighted mean of the
    order statistics.  A run has a few dozen samples from a handful of
    query kinds with distinct costs, so the plain sample median jumps
    from one kind's latency to the next between runs; the weighted form
    moves smoothly."""
    v = sorted(vals)
    n = len(v)
    a = (n + 1) / 2
    # Beta(a, a) mass of each order statistic's slot [i/n, (i+1)/n] by
    # the midpoint rule, scaled by the density at 1/2 to stay in range
    steps = 64
    weights = [sum(math.exp((a - 1) * math.log(4 * x * (1 - x)))
                   for x in ((i + (j + 0.5) / steps) / n
                             for j in range(steps)))
               for i in range(n)]
    return sum(w * x for w, x in zip(weights, v)) / sum(weights)


class Sample:
    __slots__ = ("op", "latency", "error")

    def __init__(self, op, latency, error):
        self.op, self.latency, self.error = op, latency, error


def run_query(op, tracer, reader, layer: dict) -> Sample:
    traced = tracer is not None and tracer.enabled
    t0 = time.perf_counter()
    df = result = error = None
    try:
        if traced:
            tracer.qid = len(layer["construct_s"]) + layer["failed"]
            r0 = tracer.rpcs
            with tracer.span("query"):
                with tracer.span("driver.construct"):
                    df = op.build()
                t1 = time.perf_counter()
                rpcs = tracer.rpcs - r0
                with tracer.span("driver.execute"):
                    result = op.act(df)
        else:
            df = op.build()
            result = op.act(df)
    except Exception as e:  # a failed query is a sample, never dropped
        error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    latency = time.perf_counter() - t0
    if traced:
        tracer.enabled = False
        if error is None:
            layer["construct_s"].append(t1 - t0)
            layer["construct_rpcs"].append(rpcs)
        else:
            layer["failed"] += 1
        layer["spark"].update(reader.read_new())
        if hasattr(df, "_jdf"):
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                layer["phases"][kv._1()] += kv._2().durationMs() / 1e3
    if error is None:
        try:
            error = op.check(result)
        except Exception as e:
            error = f"check raised {type(e).__name__}: {e}"
    if traced:
        # the check's own reads are not the query's
        reader.skip_new()
        tracer.enabled = True
    return Sample(op, latency, error)


def timed_loop(workload, seconds: float, first_cycle: int, min_cycles: int,
               tracer=None, reader=None,
               layer=None) -> tuple[list[Sample], int, float]:
    """Whole cycles of the mix, as many as fit ``seconds`` at the
    workload's nominal cycle length and at least ``min_cycles``.  The
    count depends on ``seconds`` alone, never on how fast this run goes,
    so every run samples the same kinds the same number of times and
    its percentiles describe the same mix."""
    samples: list[Sample] = []
    cycle, busy = first_cycle, 0.0
    planned = max(min_cycles, round(seconds / workload.cycle_s))
    while cycle - first_cycle < planned:
        if tracer is not None:  # input generation and housekeeping
            tracer.enabled = False
            ops = workload.schedule(cycle)
            reader.skip_new()
            tracer.enabled = True
        else:
            ops = workload.schedule(cycle)
        for op in ops:
            s = run_query(op, tracer, reader, layer)
            busy += s.latency
            samples.append(s)
        cycle += 1
    return samples, cycle, busy


def failures(samples: list[Sample]) -> list[str]:
    return [f"{s.op.kind}: {s.error}" for s in samples if s.error]


def latency_stats(samples: list[Sample], window: float) -> dict:
    # a failed query misses every latency limit: it counts as the whole
    # measurement window
    lat = [s.latency if s.error is None else window for s in samples]
    out = {"n": len(lat), "p50_s": hd_median(lat),
           "p90_s": quantile(lat, 0.9)}
    for cls in CLASSES:
        c = [x for x, s in zip(lat, samples) if s.op.cls == cls]
        if c:
            out[f"{cls}.n"] = len(c)
            out[f"{cls}.p50_s"] = statistics.median(c)
    kinds: dict[str, list[float]] = {}
    for x, s in zip(lat, samples):
        kinds.setdefault(s.op.kind, []).append(round(x, 4))
    out["kinds"] = kinds
    return out


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer_metrics(tracer, warm_counts: Counter, layer: dict, stats: dict,
                      setup: dict, nq: int, overhead: float, loadavg0: float,
                      cpu_s: float, rss: dict, input_bytes: int) -> dict:
    c, smp = tracer.counts, tracer.samples

    def med(key):
        return statistics.median(smp[key]) if smp.get(key) else 0.0

    m = {f"session.{k}": v for k, v in setup.items()}
    m["driver.construct_s"] = statistics.median(layer["construct_s"]) \
        if layer["construct_s"] else 0.0
    m["driver.py4j_rpcs"] = statistics.median(layer["construct_rpcs"]) \
        if layer["construct_rpcs"] else 0.0
    m["plans.sql.calls"] = _ratio(c["plans.sql.calls"], nq)
    m["plans.sql.busy_s"] = _ratio(c["plans.sql.busy_s"], nq)
    m["plans.try_rewrite.busy_s"] = _ratio(sum(smp["plans.try_rewrite.s"]),
                                           nq)
    rw = c + warm_counts
    for fn in ("try_rewrite", "rewrite_certified_scalar", "peephole_scalar"):
        m[f"plans.{fn}.match_ratio"] = _ratio(rw[f"plans.{fn}.matches"],
                                              rw[f"plans.{fn}.calls"])
    m["plans.rewrite_memo.hit_ratio"] = _ratio(
        c["plans.rewrite_memo.hits"], c["plans.rewrite_memo.lookups"])
    for fn in OPERATORS:
        m[f"operators.{fn}.construct_s"] = med(f"operators.{fn}.s")
        m[f"operators.{fn}.rpcs"] = med(f"operators.{fn}.rpcs")
    m["operators.result_cache.pool_hit_ratio"] = _ratio(
        c["operators.result_cache.hits"], c["operators.result_cache.lookups"])
    m["operators.spatial_join.stats_memo_hit_ratio"] = _ratio(
        c["operators.spatial_join.stats_memo.hits"],
        c["operators.spatial_join.stats_memo.lookups"])
    for ph in PHASES:
        m[f"spark.plan.{ph}_s"] = _ratio(layer["phases"][ph], nq)
    for k in SPARK_EXEC:
        m[f"spark.exec.{k}"] = _ratio(layer["spark"][k], nq)
    for k in PYTHON:
        m[f"functions.{k}"] = _ratio(layer["spark"][k], nq)
    m["sources.write_s"] = med("sources.write_geoparquet.s")
    m["sources.write_bytes"] = _ratio(c["sources.write_bytes"],
                                      len(smp["sources.write_geoparquet.s"]))
    m["sources.write_amplification"] = _ratio(c["sources.write_bytes"],
                                              input_bytes)
    m["sources.read_s"] = med("sources.read_geoparquet.s")
    m["sources.files_read_ratio"] = _ratio(c["sources.files_read"],
                                           c["sources.files_present"])
    for cls in CLASSES:
        m[f"class.{cls}.p50_s"] = stats.get(f"{cls}.p50_s", 0.0)
    m["host.cpu_s"] = cpu_s
    m["host.peak_rss_mb"] = rss["driver"] + rss["jvm"]
    m["host.loadavg_start"] = loadavg0
    m["trace.overhead_frac"] = overhead
    m["trace.queries"] = nq
    return m


def start_session(sess, setup: dict):
    """The engine's own session factory, with function registration
    timed apart from the JVM and context start."""
    reg = sess.register_all

    def timed_register(spark):
        t = time.perf_counter()
        out = reg(spark)
        setup["register_all_s"] = time.perf_counter() - t
        return out

    sess.register_all = timed_register
    try:
        t = time.perf_counter()
        spark = sess.get_spark("perfbench")
    finally:
        sess.register_all = reg
    setup["get_spark_s"] = time.perf_counter() - t - setup["register_all_s"]
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(wl) -> None:
    for op in wl.warmup():
        try:
            op.act(op.build())
        except Exception as e:  # shows again, counted, when timed
            print(f"warm-up {op.kind} failed: {e}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    proc_start = process_start_epoch()

    shutil.rmtree(WORK, ignore_errors=True)
    sizing = host_sizing()
    # before the engine is imported: it reads SPARK_GRAFT_* at import
    configure_env(sizing)

    # fail before any work when the engine is not beside the benchmark
    sys.path.insert(0, ROOT)
    import sedona_db_spark  # noqa: F401
    from sedona_db_spark import session as sess

    import sparkmetrics
    import workloads
    from tracing import Tracer
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(workloads.WORKLOADS)}")

    loadavg0 = os.getloadavg()[0]
    setup: dict[str, float] = {}
    spark = start_session(sess, setup)
    gateway = spark.sparkContext._gateway
    tracer = reader = wl = None
    plain: list[Sample] = []
    try:
        t = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, WORK)
        setup["prep_s"] = time.perf_counter() - t
        t = time.perf_counter()
        sess.load_tables(spark, getattr(wl, "data_dir", WORK))
        setup["load_tables_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.prep()
        setup["prep_s"] += time.perf_counter() - t
        if args.trace:
            # a warm memo leaves the rewriters nothing to do in the timed
            # cycles: their match counts come from the warm-up
            tracer = Tracer()
            tracer.install(spark)
            tracer.enabled = True
        t = time.perf_counter()
        warm_up(wl)
        setup["warmup_s"] = time.perf_counter() - t
        setup_s = time.time() - proc_start
        pin_tree(sizing["pinned"])
        ticks0 = cpu_ticks()

        if args.trace:
            tracer.enabled = False
            warm_counts = tracer.take_counts()
            plain, cycle, plain_busy = timed_loop(wl, args.seconds / 2, 0, 1)
            reader = sparkmetrics.ExecutionReader(spark)
            layer = {"construct_s": [], "construct_rpcs": [], "failed": 0,
                     "spark": Counter(), "phases": Counter()}
            written0 = getattr(wl, "input_bytes_written", 0)
            tracer.enabled = True
            samples, _, busy = timed_loop(wl, args.seconds / 2, cycle, 1,
                                          tracer, reader, layer)
            tracer.enabled = False
        else:
            samples, _, busy = timed_loop(wl, args.seconds, 0, 2)
        ticks1 = cpu_ticks()
        steal = _ratio(ticks1[0] - ticks0[0], ticks1[1] - ticks0[1])
        cpu_s = tree_cpu_s()
        rss = {"driver": peak_rss_mb(os.getpid()),
               "jvm": peak_rss_mb(gateway.proc.pid)}
        failed = failures(plain) + failures(samples)
        stats = latency_stats(samples, busy)
        if args.trace:
            plain_stats = latency_stats(plain, plain_busy)
    finally:
        if wl is not None:
            wl.close()
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(60)
        shutil.rmtree(WORK, ignore_errors=True)

    n = len(plain) + len(samples)
    detail = {"workload": args.workload, "seed": args.seed,
              "input_digest": wl.digest(), **sizing,
              "loadavg_start": loadavg0, "loadavg_end": os.getloadavg()[0],
              "cpu_s": cpu_s, "cpu_steal_frac": steal,
              "peak_rss_mb": rss, "setup": setup,
              "latency": stats,
              "failures": failed[:20]}
    if args.trace:
        overhead = _ratio(busy / len(samples),
                          plain_busy / len(plain)) - 1.0
        metrics = per_layer_metrics(
            tracer, warm_counts, layer, stats, setup, len(samples), overhead,
            loadavg0, cpu_s, rss,
            getattr(wl, "input_bytes_written", 0) - written0)
        units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
        path = os.path.join(STATE, "traces",
                            f"{args.workload}-{args.seed}.json")
        tracer.dump(path, {"detail": detail, "untraced": plain_stats})
        detail["span_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = {
            "setup_s": setup_s,
            "queries_per_s": n / busy,
            "query_p50_s": stats["p50_s"],
            "query_p90_s": stats["p90_s"],
            "ok_ratio": (n - len(failed)) / n,
        }
        units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not failed, "attempted": n, "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
