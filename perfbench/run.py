"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One client drives the package in
a closed loop (the next operation starts when the previous one returns)
on ``local[N]``, N = min(4, usable CPUs) - 1. The run generates its inputs
from the seed under ``perfbench/.work/``, warms up for the workload's
fixed number of untimed passes, measures the whole passes that take
``--seconds`` at the workload's nominal pass time, checks every
operation's output, prints each metric with its unit, and ends with one
JSON line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first makes
the same untraced measurement, then restarts the session with the Spark
event log on and measures with a span around every layer call, then
restarts untraced and measures once more; it reports the per-layer
metrics and the tracing overhead (traced against untraced rows per
second). Before it exits, on every path out, the run stops the Spark JVM
and the Python workers and waits until each has ended. See
perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

# The run writes only under perfbench/.work/: no bytecode caches next to
# the sources, in this process or in the Python workers Spark starts.
sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pucminas_data_pipelines_spark"

# Warm-up passes after a session restart in the traced run (the JVM is
# already warm there; the pass refills Spark's and the workers' caches).
TRACED_WARMUP = 1


def executor_threads() -> int:
    """One CPU is left to this client process and the JVM's compiler and
    collector threads. On a 4-vCPU machine local[3] ran as fast as
    local[4] and, on table_mutation, cut the run-to-run spread of
    query_p50_ms from 0.24 to 0.04 (IQR/median, 6 seeds alternating)."""
    return max(1, min(4, len(os.sched_getaffinity(0))) - 1)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value), nearest rank: the highest percentile with at
    least ten samples above it, but never below p90. A run holds 6 to 30
    samples, where the ten-above rule would fall to the median or below."""
    xs = sorted(samples)
    n = len(xs)
    p = max(90.0, math.floor(100.0 * (n - 10) / n))
    rank = max(1, math.ceil(p / 100.0 * n))
    return float(p), xs[rank - 1]


def peak_rss_mb(jvm_pid: int) -> float:
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def descendants() -> dict[int, str]:
    """Every live process below this one, from /proc: pid -> start time
    (the start time tells a pid from a later process that reuses it)."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append((int(d), fields[19]))
    found: dict[int, str] = {}
    todo = [os.getpid()]
    while todo:
        for pid, start in children.get(todo.pop(), ()):
            found[pid] = start
            todo.append(pid)
    return found


def alive(pid: int, start: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and fields[19] == start


# Processes seen under this one before a session stopped: stop_jvm waits
# for these too, since Python workers a stopped session leaves behind no
# longer show as descendants once their daemon has exited.
SEEN: dict[int, str] = {}


def stop_session(spark) -> None:
    SEEN.update(descendants())
    spark.stop()


def stop_jvm() -> None:
    """Stop the gateway JVM and every process under this one (the Python
    workers the JVM forked), and wait until each has ended. The JVM exits
    when its stdin closes; only one that does not is killed."""
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark else None
    others = {**SEEN, **descendants()}
    if gateway is not None:
        pyspark.SparkContext._gateway = None
        pyspark.SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    others.update(descendants())
    deadline = time.monotonic() + 30
    sig = signal.SIGTERM
    while others := {p: s for p, s in others.items() if alive(p, s)}:
        if time.monotonic() > deadline:
            for pid in others:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
            sig = signal.SIGKILL
        time.sleep(0.05)


def start_spark(work: str, traced: bool):
    from pucminas_data_pipelines_spark.session import get_spark

    n = executor_threads()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched driver heap: peak RSS then does not depend
        # on when the collector chose to grow the heap during the run
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.driver.extraJavaOptions": (
            "-Xms2g -XX:+AlwaysPreTouch"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def warm_up(wl, rec, passes: int) -> list[float]:
    """Run ``passes`` untimed passes; returns each pass's seconds."""
    totals = []
    for _ in range(passes):
        p0 = time.perf_counter()
        wl.run_pass(rec)
        totals.append(time.perf_counter() - p0)
    return totals


def measure(wl, rec, seconds: float) -> float:
    """As many whole passes as take ``seconds`` at the workload's nominal
    pass time, then the closing operations; returns the wall time. A
    fixed pass count, not a deadline, so that every run of a workload
    does the same operations: a deadline that falls near the end of a
    pass changes the operation mix from run to run."""
    rec.timing = True
    t0 = time.perf_counter()
    for _ in range(max(1, round(seconds / wl.PASS_S))):
        before = rec.attempted
        wl.run_pass(rec)
        if rec.attempted == before:  # the workload has no more input
            break
    wl.finish(rec)
    rec.timing = False
    return time.perf_counter() - t0


def summary(rec, wall: float) -> dict:
    q = rec.samples["query"]
    c = rec.samples["commit"]
    out = {
        "rows_per_s": rec.rows / (wall - rec.check_s),
        "query_p50_ms": 1000.0 * statistics.median(q) if q else 0.0,
        "query_tail": tail(q) if q else (0.0, 0.0),
        "commit_p50_ms": 1000.0 * statistics.median(c) if c else 0.0,
        "commit_tail": tail(c) if c else (0.0, 0.0),
        "queries": len(q),
        "commits": len(c),
    }
    return out


def on_sigterm(*_) -> None:
    """A terminated run still stops its JVM and workers (the finally in
    main); a second SIGTERM does not cut that short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, on_sigterm)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    # Python workers start in their own process: they find the package
    # through PYTHONPATH, whatever the working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the spark-submit launcher too: temp files in the run's
    # directory, no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")

    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    t_imports = time.perf_counter() - T_START
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](args.seed, work)
        t_gen = time.perf_counter()
        wl.generate()
        t_gen = time.perf_counter() - t_gen
        spark, get_spark_s = start_spark(work, traced=False)
        rec = workloads.Recorder()
        t_setup = time.perf_counter()
        wl.setup(spark, spans.Tracer())
        t_setup = time.perf_counter() - t_setup
        warmup = warm_up(wl, rec, wl.WARMUP_PASSES)
        setup_s = time.perf_counter() - T_START
        wall = measure(wl, rec, args.seconds)
        res = summary(rec, wall)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb(jvm_pid)
        ratios = wl.byte_ratios()

        lines = [
            ("setup_s", setup_s, "s"),
            ("rows_per_s", res["rows_per_s"], "rows/s"),
            ("query_p50_ms", res["query_p50_ms"], "ms"),
            ("query_tail_ms", 1000.0 * res["query_tail"][1], "ms"),
            ("commit_p50_ms", res["commit_p50_ms"], "ms"),
            ("commit_tail_ms", 1000.0 * res["commit_tail"][1], "ms"),
            ("failed_ops_ratio", rec.failed / max(rec.attempted, 1), "ratio"),
            ("peak_rss_mb", rss, "MB"),
            ("bytes_written_per_user_byte", ratios.get("bytes_written_per_user_byte", 0.0), "ratio"),
            ("bytes_stored_per_user_byte", ratios.get("bytes_stored_per_user_byte", 0.0), "ratio"),
        ]
        print(f"workload {args.workload} seed {args.seed} local[{executor_threads()}] "
              f"measured {wall:.2f} s; set-up: imports {t_imports:.2f} s, inputs {t_gen:.2f} s, "
              f"session {get_spark_s:.2f} s, references {t_setup:.2f} s, "
              f"warm-up passes {', '.join(f'{t:.2f}' for t in warmup)} s")
        for name, value, unit in lines:
            print(f"  {name:30s} {value:14.4f} {unit}")
        print(f"  query tail = p{res['query_tail'][0]:g} of {res['queries']} samples; "
              f"commit tail = p{res['commit_tail'][0]:g} of {res['commits']} samples")
        for name, xs in sorted(rec.by_name.items()):
            print(f"  op {name:28s} n={len(xs):3d} median {1000 * statistics.median(xs):9.1f} ms")
        for f in rec.failures:
            print(f"  FAILED {f}")
        values = {n: (v, u) for n, v, u in lines}
        metrics = {n: values[n] for n in ("setup_s", "rows_per_s", "query_p50_ms",
                                          "query_tail_ms", "peak_rss_mb")}

        if args.trace:
            stop_session(spark)
            spark = None
            session = {"session.get_spark_s": get_spark_s, "session.warmup_s": sum(warmup),
                       "session.warmup_passes": len(warmup)}
            metrics = traced_run(wl, rec, work, args.seconds, values, session)
            for name, (value, unit) in metrics.items():
                print(f"  {name:40s} {value:16.4f} {unit}")
        result = {
            "correct": rec.failed == 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:  # also when a stop interrupted mid-call fails
            stop_jvm()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run's directory is still there
                pass


def traced_run(wl, rec, work: str, seconds: float, figures: dict, session: dict) -> dict:
    """The traced phase and the untraced phase after it, each on a fresh
    session after one warm-up pass; returns the per-layer metrics. The
    traced rate is compared with the later untraced phase, not with the
    first (colder) one; that phase runs on a warmer JVM, so the overhead
    errs high. Operation counts and failures add to ``rec``."""
    import spans
    import workloads

    spark, _ = start_spark(work, traced=True)
    try:
        tracer = spans.Tracer(spark, enabled=True)
        wl.bind(spark, tracer)
        rec_traced = workloads.Recorder()
        warm_up(wl, rec_traced, TRACED_WARMUP)
        traced = summary(rec_traced, measure(wl, rec_traced, seconds))
        app_id = spark.sparkContext.applicationId
        counters = wl.layer_metrics()
    finally:
        stop_session(spark)
    jobs = spans.parse_event_log(os.path.join(work, "eventlog", app_id))
    spark, _ = start_spark(work, traced=False)
    try:
        wl.bind(spark, spans.Tracer())
        rec_after = workloads.Recorder()
        warm_up(wl, rec_after, TRACED_WARMUP)
        after = summary(rec_after, measure(wl, rec_after, seconds))
    finally:
        stop_session(spark)
    for r in (rec_traced, rec_after):
        rec.attempted += r.attempted
        rec.failed += r.failed
        rec.failures += [f"(traced run) {f}" for f in r.failures]
        for f in r.failures:
            print(f"  FAILED (traced run) {f}")
    return layer_metrics(counters, tracer, jobs, figures, session,
                         1.0 - traced["rows_per_s"] / after["rows_per_s"])


# Per-layer metrics of the traced run: (name, unit). Each layer also gets
# the engine counters of spans.ENGINE_COUNTERS. A metric reads 0 on a
# workload that does not exercise its layer.
LAYER_METRICS = (
    ("session.get_spark_s", "s"), ("session.warmup_s", "s"),
    ("session.warmup_passes", "count"),
    ("tables.load_table_calls", "count"), ("tables.load_table_s", "s"),
    ("tables.input_rows", "rows"), ("tables.rows_examined_per_row_out", "ratio"),
    ("plans.build_s", "s"), ("plans.action_s", "s"),
    *((f"pipelines.{s}_s", "s") for s in ("exact", "lsh_pairs", "clusters",
                                           "prefix_pairs", "brute_topk", "ivf_topk")),
    ("dedup.exact_s", "s"), ("dedup.lsh_pairs_s", "s"), ("dedup.clusters_s", "s"),
    ("dedup.prefix_pairs_s", "s"), ("dedup.candidate_pairs", "count"),
    ("dedup.lsh_recall", "ratio"),
    ("similarity.brute_topk_s", "s"), ("similarity.ivf_topk_s", "s"),
    ("similarity.ivf_recall_at_k", "ratio"),
    *((f"upsert.{k}_s", "s") for k in ("append", "merge", "delete", "optimize", "vacuum",
                                        "read", "read_keys", "time_travel")),
    ("upsert.files_written", "count"), ("upsert.bytes_written", "bytes"),
    ("upsert.live_files", "count"), ("upsert.max_dirs_per_bucket", "count"),
    ("upsert.input_bytes_per_point_read", "bytes"),
    ("streaming.batches", "count"), ("streaming.rows_per_batch", "rows"),
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.state_rows", "rows"),
)
COUNTER_UNITS = {"jobs": "count", "tasks": "count", "shuffle_write_bytes": "bytes",
                 "spill_bytes": "bytes", "input_bytes": "bytes", "output_bytes": "bytes"}
# End-to-end figures of the untraced phase that only some workloads have
# (no commits or table bytes on olap_tpch and llm_curation), reported with
# the per-layer metrics because a bounded metric may never read 0.
WORKLOAD_FIGURES = ("commit_p50_ms", "commit_tail_ms", "failed_ops_ratio",
                    "bytes_written_per_user_byte", "bytes_stored_per_user_byte")


def layer_metrics(own, tracer, jobs, figures, session, overhead) -> dict:
    """Per-layer metrics: the workload's own counters, engine counters per
    layer from the event log, and the tracing overhead."""
    import spans

    per_layer = spans.attribute(tracer, jobs)
    own = {**own, **session}
    # the table layer's scans run inside the plans' actions
    plans = per_layer["plans"]
    out_rows = own.get("_output_rows", 0)
    own["tables.input_rows"] = plans["input_rows"]
    own["tables.rows_examined_per_row_out"] = plans["input_rows"] / out_rows if out_rows else 0.0
    point_reads = own.get("_point_reads", 0)
    point_bytes = sum(
        j["input_bytes"] for j in jobs.values()
        if (s := tracer.spans.get(j["group"])) is not None and s.name == "upsert.read_keys")
    own["upsert.input_bytes_per_point_read"] = point_bytes / point_reads if point_reads else 0.0
    m = {name: (float(own.get(name, 0.0)), unit) for name, unit in LAYER_METRICS}
    for layer in spans.LAYERS[1:]:
        for k in spans.ENGINE_COUNTERS:
            m[f"{layer}.{k}"] = (float(per_layer[layer][k]), COUNTER_UNITS.get(k, "s"))
    m["tables.input_bytes"] = (float(plans["input_bytes"]), "bytes")
    for name in WORKLOAD_FIGURES:
        m[name] = figures[name]
    m["trace.overhead_ratio"] = (overhead, "ratio")
    return m


if __name__ == "__main__":
    sys.exit(main())
