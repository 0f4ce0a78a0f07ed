"""Seeded benchmark: one workload per run, every metric by name and unit.

    python3 perfbench/run.py --workload token_prep --seed 1 --seconds 12 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed`` under ``.bench_work/``, sets up Spark on ``local[<cores>]``
three times and reports the median set-up time, runs the correctness gate
(which doubles as the warm-up pass), then runs timed passes for
``--seconds`` (the stream workload instead generates rows for
``--seconds`` and gates its sinks afterwards).

With ``--trace 0`` it prints the end-to-end metrics named in
``BENCHMARK.json``: set-up time, CPU milliseconds per input row (driver
JVM but for its JIT compilers, its Python workers and the driver's Python; mean of the first three timed passes) and median RSS. Wall-clock pass
time, rows/s and latency are in the record and, with ``--trace 1``, among
the per-layer metrics (``wall.*``): on a shared 4-core VM they moved by up
to 1.8x between runs minutes apart, while CPU time per row held within a
few percent. With ``--trace 1`` it
alternates untraced and traced passes (the stream is traced throughout,
one window per micro-batch) and prints the per-layer metrics.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the full record (environment, input digest,
spans, per-pass split) goes to
``.bench_work/result-<workload>-<seed>-trace<n>.json``. Exits non-zero on
a correctness failure.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".bench_work")
SETUP_CYCLES = 3
MIN_PASSES = 3  # batch passes per untraced run, however long they take
# CPU per pass falls for several passes as the JIT warms: the metric takes
# the first MIN_PASSES, however many the host's speed fitted into --seconds
DRIVER_MEM = "1g"
JIT_THREAD = re.compile(r"C\d CompilerThre")  # the JVM's JIT compilers (names cut at 15 chars)


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(q / 100.0 * len(v)) - 1)]


class ProcSampler(threading.Thread):
    """Memory and CPU of a process and all its descendants (the driver JVM,
    the Python worker daemon and its workers), from /proc. RSS is sampled
    every 0.1 s; CPU time is read on demand and also counts this process,
    where the program's driver-side Python runs.

    The CPU of the JVM's JIT compiler threads is kept apart: over the first
    passes it is about half of the JVM's CPU, it varies widely from run to
    run, and it fades as the JVM warms, so it measures the JVM's start, not
    the program's work."""

    def __init__(self, pid: int) -> None:
        super().__init__(name="proc-sampler", daemon=True)
        self.pid, self.samples, self._halt = pid, [], threading.Event()

    def _stats(self) -> dict[int, list[str]]:
        """pid -> /proc/<pid>/stat fields after the command name, for the tree."""
        stats: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stats[int(d)] = f.read().rsplit(")", 1)[1].split()
                except (OSError, IndexError):
                    continue
        children: dict[int, list[int]] = {}
        for pid, fields in stats.items():
            children.setdefault(int(fields[1]), []).append(pid)
        tree, todo = {}, [self.pid]
        while todo:
            p = todo.pop()
            todo += children.get(p, [])
            if p in stats:
                tree[p] = stats[p]
        return tree

    def cpu_seconds(self) -> float:
        """User + system CPU of the tree (reaped children included) and of
        this process, less this sampler's own thread and the JIT compilers."""
        ticks = sum(sum(int(x) for x in f[11:15]) for f in self._stats().values())
        own = sum(os.times()[:2]) - time.clock_gettime(time.pthread_getcpuclockid(self.ident))
        return ticks / os.sysconf("SC_CLK_TCK") + own - self.jit_seconds()

    def jit_seconds(self) -> float:
        """User + system CPU of the driver JVM's JIT compiler threads."""
        ticks, tasks = 0, f"/proc/{self.pid}/task"
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if JIT_THREAD.match(stat[stat.index("(") + 1:]):
                ticks += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
        return ticks / os.sysconf("SC_CLK_TCK")

    def run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._halt.wait(0.1):
            self.samples.append(sum(int(f[21]) for f in self._stats().values()) * page)

    def phase(self) -> tuple[float, float]:
        """(median, peak) RSS in MB since the last call; starts a new phase."""
        samples, self.samples = self.samples, []
        return (statistics.median(samples) / 2**20, max(samples) / 2**20) if samples else (0.0, 0.0)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def environment(work: str) -> dict:
    """Pin the deployment settings before pyspark starts a JVM."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM, "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp, "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return {
        "cpus": cpus, "driver_memory": DRIVER_MEM, "spark_local_dirs": local,
        "conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap is touched up front: otherwise RSS climbs for tens of
            # seconds as the young generation first fills, at a pace that
            # differs from run to run
            # and the JIT compiler threads live as long as the JVM, so their
            # CPU can be read off them (see ProcSampler)
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+AlwaysPreTouch "
                                              f"-Xms{DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads"),
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "go_log_forwarder_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        fail("run from the repository root: go_log_forwarder_spark/ and __spark_entry__.py not found")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    units = metric_units()

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = environment(work)
    try:
        return run(args, work, env, WORKLOADS[args.workload], units)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, env: dict, wl_cls, units) -> int:
    import pyarrow
    import pyspark

    from perfbench import gen
    from perfbench import trace as tr

    wl = wl_cls(work, args.seed)
    manifest = wl.generate()  # untimed

    from go_log_forwarder_spark.session import get_spark

    spark, sampler, setups = None, None, []
    for _ in range(SETUP_CYCLES):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=env["conf"])
        wl.prepare(spark)
        setups.append(time.perf_counter() - t0)
        if sampler is None:
            sampler = ProcSampler(spark.sparkContext._gateway.proc.pid)
            sampler.start()
    first_setup_s = time.perf_counter() - T_START - sum(setups[1:])
    sc = spark.sparkContext

    t0 = time.perf_counter()
    problems = wl.check(spark)  # correctness gate + warm-up, untimed
    warmup_s = time.perf_counter() - t0
    # memory is the median over the timed region: set-up, the cold warm-up
    # and the moments the Python worker pool turns over spike by up to 1.4 GB
    # in some runs and not in others
    rss_setup_mb = sampler.phase()
    attempted, failed = 1, int(bool(problems))

    tracer = tr.Tracer() if args.trace else None
    store = tr.StatusStore(spark) if args.trace else None
    storage: list[tuple[float, int]] = []  # (time, bytes held by persisted frames)
    if tracer is not None:
        def probe_storage() -> None:  # after each traced sink write
            storage.append((time.time(), sum(r.memSize() + r.diskSize()
                                             for r in sc._jsc.sc().getRDDStorageInfo())))

        tracer.on_write = probe_storage

    def traced_window(t0: float, t1: float, jobs: list[dict], execs: list[dict], slack: float) -> dict:
        """Per-layer split of the wall window [t0, t1]; ``slack`` absorbs the
        millisecond rounding of Spark's own timestamps."""
        spans = [s for s in tracer.spans
                 if s.start >= t0 - slack and s.end is not None and s.end <= t1 + slack]
        d = tr.decompose(t0, t1, spans, jobs, execs, wl.python_layer)
        d["nodes"] = tr.node_counters(execs, d.pop("job_layer"))
        d["writes"] = sum(1 for s in spans if s.name.startswith("write."))
        d["persist_b"] = max((b for t, b in storage if t0 - slack <= t <= t1 + slack), default=0)
        return d

    passes: list[float] = []
    traced: list[dict] = []
    extra: dict = {}
    if wl.name == "stream_forward":
        if tracer is not None:
            tracer.install()
        try:
            run_info = wl.run_stream(spark, args.seconds, sampler)
        finally:
            if tracer is not None:
                tracer.uninstall()
        cpu_s, timed_rows = run_info["cpu_s"], wl.rows
        t_gate = time.perf_counter()
        stream_problems, sm = wl.gate(spark, run_info)
        problems += stream_problems
        attempted = wl.rows
        failed = max(sm["missing"], 1 if stream_problems else 0)
        passes = sm["batch_s"] or [0.0]
        manifest["digest"] = wl.info.pop("inputs.digest")
        extra = {"stream": {k: v for k, v in sm.items() if k not in ("lag_ms", "window", "routed")},
                 "stream_phase_s": {**run_info["phase_s"], "gate": time.perf_counter() - t_gate},
                 "rss_mb_stream_warmup": run_info["rss_warm_mb"],
                 "lag_p99_ms": percentile(sm["lag_ms"], 99) if sm["lag_ms"] else 0.0}
        lag_p50 = statistics.median(sm["lag_ms"]) if sm["lag_ms"] else 0.0
        rows_per_s = sm["rows_per_busy_s"]
        if args.trace:
            # one traced window per timed micro-batch; a stream runs its
            # batches under its run id as the job group
            jobs = [j for j in store.jobs(run_info["run_id"]) if (j["start"] or 0) >= run_info["t_timed"]]
            execs = store.executions({j["id"] for j in jobs})
            for bid, (t0, t1) in sorted(sm["window"].items()):
                bj = [j for j in jobs if t0 - 0.01 <= j["start"] <= t1]
                ids = {j["id"] for j in bj}
                d = traced_window(t0, t1, bj, [e for e in execs if ids & set(e["jobs"])], 0.01)
                d["unrouted"] = max(0.0, d["nodes"]["cache_rows"] - sm["routed"].get(bid, 0))
                traced.append(d)
    else:
        def one_pass(i: int, traced_pass: bool) -> float:
            group = f"pass-{i}"
            sc.setJobGroup(group, group)
            if traced_pass:
                tracer.install()
            t0w, t0, c0, j0 = time.time(), time.perf_counter(), sampler.cpu_seconds(), sampler.jit_seconds()
            try:
                if traced_pass:
                    with tracer.span(f"pass-{i}", None):
                        wl.run_pass(spark, tracer)
                else:
                    wl.run_pass(spark, None)
            finally:
                if traced_pass:
                    tracer.uninstall()
            dt, t1w = time.perf_counter() - t0, time.time()
            pass_cpu.append(sampler.cpu_seconds() - c0)
            pass_jit.append(sampler.jit_seconds() - j0)
            if traced_pass:
                jobs = store.jobs(group)
                d = traced_window(t0w, t1w, jobs, store.executions({j["id"] for j in jobs}), 1e-3)
                d["counts"] = dict(tracer.counts)
                tracer.counts.clear()
                traced.append(d)
            return dt

        # untraced, or with --trace 1 one more untraced warm-up pass, then
        # blocks of untraced, traced, traced, untraced passes: the passes
        # still speed up as the JIT warms, and the mirrored order cancels a
        # steady drift out of the overhead
        order = (False, True, True, False) if args.trace else (False,)
        warm = 1 if args.trace else 0
        i, pass_cpu, pass_jit, traced_s = 0, [], [], []
        t_end = time.perf_counter() + args.seconds
        while True:
            traced_pass = i >= warm and order[(i - warm) % len(order)]
            i += 1
            try:
                dt = one_pass(i, traced_pass)
            except Exception as e:  # a pass that raises counts as failed
                attempted += 1
                failed += 1
                problems.append(f"pass {i}: {type(e).__name__}: {e}")
                break
            attempted += 1
            if i > warm:
                (traced_s if traced_pass else passes).append(dt)
            if time.perf_counter() >= t_end and (i - warm) % len(order) == 0 and i - warm >= MIN_PASSES:
                break
        cpu_s = statistics.mean(pass_cpu[:MIN_PASSES]) if len(pass_cpu) >= MIN_PASSES else 0.0
        timed_rows = wl.rows
        extra["pass_cpu_s"], extra["pass_jit_s"] = pass_cpu, pass_jit
        if traced_s:
            extra["traced_pass_s"] = traced_s
        pass_med = statistics.median(passes) if passes else 0.0
        lag_p50 = pass_med * 1000.0
        rows_per_s = wl.rows / pass_med if pass_med else 0.0

    rss_timed_mb = sampler.phase()
    spark.stop()
    sampler.stop()
    # the JVM exits when its stdin closes; wait for it, so no process of
    # this run outlives it
    jvm = spark.sparkContext._gateway.proc
    jvm.stdin.close()
    jvm.wait(timeout=60)
    pass_s = statistics.median(passes) if passes else 0.0
    e2e = {
        "setup_s": statistics.median(setups), "rss_mb": rss_timed_mb[0],
        "cpu_ms_per_row": 1000.0 * cpu_s / timed_rows if timed_rows else 0.0,
        "pass_s": pass_s, "rows_per_s": rows_per_s, "lag_p50_ms": lag_p50,
    }
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "env": {**env, "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                "python": sys.version.split()[0]},
        "inputs": {**manifest, "props": gen.props_dict(wl.props)},
        "setup_cycles_s": setups, "first_setup_s": first_setup_s, "warmup_s": warmup_s,
        "rss_mb_setup_and_warmup": rss_setup_mb, "rss_mb_timed": rss_timed_mb,
        "passes_s": passes, "problems": problems, "extra": extra,
        "end_to_end": e2e, "query_s": getattr(wl, "query_s", {}),
        "check_s": getattr(wl, "check_s", {}),
    }
    if args.trace:
        layer = per_layer(wl, traced, extra, e2e, units[1])
        record["per_layer"] = layer
        record["traced_passes"] = traced
        record["spans"] = [s.as_dict() for s in tracer.spans]
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in units[1].items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in units[0].items()}
    os.makedirs(WORK_ROOT, exist_ok=True)
    with open(os.path.join(WORK_ROOT, f"result-{wl.name}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for p in problems:
        print(f"CORRECTNESS: {p}", file=sys.stderr)
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def per_layer(wl, traced: list[dict], extra: dict, e2e: dict, names) -> dict:
    """Median over traced passes (micro-batches, on the stream) of each
    per-layer metric; 0 where a layer does not apply to the workload."""
    out = dict.fromkeys(names, 0.0)
    out.update({k: v for k, v in wl.info.items() if k in out})
    out.update({f"wall.{k}": e2e[k] for k in ("pass_s", "rows_per_s", "lag_p50_ms")})
    st = extra.get("stream")
    if st:
        ph = st["phases"]
        out.update({
            "streaming.batches": st["n_batches"], "streaming.batch_ms": ph["triggerExecution"],
            "streaming.add_batch_ms": ph["addBatch"], "streaming.planning_ms": ph["queryPlanning"],
            "streaming.wal_ms": ph["walCommit"] + ph["commitOffsets"],
            "streaming.backlog_max": st["backlog_max"],
            "streaming.lag_p99_ms": extra["lag_p99_ms"], "streaming.gen_late_ms": st["gen_late_ms"],
        })
    if not traced:
        return out
    MB = 2**20

    def med(fn) -> float:
        return statistics.median(fn(d) for d in traced)

    out.update({
        "driver.jobs": med(lambda d: d["jobs"]), "driver.stages": med(lambda d: d["stages"]),
        "driver.floor_s": med(lambda d: d["floor_s"]), "driver.eager_jobs": med(lambda d: d["eager_jobs"]),
        "dedup.jobs": med(lambda d: d["layer_jobs"].get("dedup", 0)),
        "dedup.call_s": med(lambda d: d["call_s"].get("dedup", 0.0)),
        "similarity.jobs": med(lambda d: d["layer_jobs"].get("similarity", 0)),
        "similarity.call_s": med(lambda d: d["call_s"].get("similarity", 0.0)),
        "similarity.python_nodes": med(lambda d: d["nodes"]["similarity_py_nodes"]),
        "sources.rows": med(lambda d: d["nodes"]["scan_rows"]),
        "sources.read_mb": med(lambda d: d["nodes"]["scan_b"] / MB),
        "routing.rescans": med(lambda d: d["nodes"]["scans"]),
        "routing.persist_mb": med(lambda d: d["persist_b"] / MB),
        "aggregate.groups": med(lambda d: d["nodes"]["agg_groups"]),
        "sinks.actions": med(lambda d: d["writes"]),
        "sinks.write_mb": med(lambda d: d["nodes"]["write_b"] / MB),
        "shuffle.write_mb": med(lambda d: d["shuffle_write_b"] / MB),
        "shuffle.read_mb": med(lambda d: d["shuffle_read_b"] / MB),
        "shuffle.records": med(lambda d: d["shuffle_records"]),
        "spill.mb": med(lambda d: d["spill_b"] / MB), "stage.skew": med(lambda d: d["skew"]),
        "trace.unattributed_share": med(lambda d: d["unattributed_s"] / d["wall_s"]),
    })
    if wl.python_layer == "arrow":  # else the Python nodes are the parsers'
        out.update({"arrow.rows": med(lambda d: d["nodes"]["py_rows"]),
                    "arrow.mb": med(lambda d: d["nodes"]["py_b"] / MB)})
    if st:
        # the batch's input scan feeds the parser chain; the persisted frame
        # holds the rows grep kept, which the sinks then read
        out.update({
            "streaming.jobs_per_batch": med(lambda d: d["jobs"]),
            "parsers.rows_in": med(lambda d: d["nodes"]["scan_rows"]),
            "filters.keep_ratio": med(lambda d: d["nodes"]["cache_rows"] / max(d["nodes"]["scan_rows"], 1)),
            "routing.fanout": med(lambda d: d["nodes"]["write_rows"] / max(d["nodes"]["cache_rows"], 1)),
            "routing.unrouted": med(lambda d: d["unrouted"]),
            "sinks.rows_written": med(lambda d: d["nodes"]["write_rows"]),
        })
    else:
        out.update({
            "dedup.count_gates": med(lambda d: d["counts"].get("dedup.count_gates", 0)),
            "similarity.count_gates": med(lambda d: d["counts"].get("similarity.count_gates", 0)),
        })
    for lay, key in (("sources", "sources.scan_s"), ("parsers", "parsers.python_s"),
                     ("aggregate", "aggregate.s"), ("sinks", "sinks.write_s"), ("arrow", "arrow.s"),
                     ("shuffle", "shuffle.s"), ("dedup", "dedup.s"), ("similarity", "similarity.s")):
        out[key] = med(lambda d, lay=lay: d["self_s"][lay])
    if "traced_pass_s" in extra:
        out["trace.overhead_s"] = statistics.median(extra["traced_pass_s"]) - e2e["pass_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
