"""QAN-chain benchmark: one closed-loop client driving the package's public
functions from outside, on seeded generated inputs.

    python3 perfbench/run.py --workload dashboard_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics (spans around each public call, streaming progress from a listener,
stage and SQL metrics from an event log; layers a workload does not run
read 0). The line before it records the host and parallelism. A traced run
also writes its full span report to ``.perfbench_out/``.

Everything the run writes (inputs, warehouse, checkpoints, event log, Spark
scratch) lives under ``.perfbench_run/`` in the working directory and is
removed at exit. See NOTES.md for the design and measured spreads.
"""

from __future__ import annotations


def _process_start() -> float:
    """Wall-clock time this process was started (from /proc, 10 ms grain)."""
    import os
    import time

    with open(f"/proc/{os.getpid()}/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_START = _process_start()

import argparse  # noqa: E402
import gc  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.getcwd()
PACKAGE = "project_obsidian_core_spark"
#: local[N] never exceeds this; the host's memory bandwidth saturates near it
MAX_CORES = 4
#: driver heap cap (the program's ``SPARK_GRAFT_DRIVER_MEM``). Under the 8g
#: default, how far G1 grows the heap depends on GC timing, and peak RSS
#: swung 2.7-4.9 GB between identical runs; the live heap is ~100 MB.
DRIVER_MEM = "2g"


def host_canary() -> dict:
    """Fixed single-thread work (median of 3) and the 1-minute load."""
    spins = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        spins.append((time.perf_counter() - t0) * 1000.0)
    return {"spin_ms": statistics.median(spins), "load1": os.getloadavg()[0]}


def _process_tree() -> list[int]:
    """This process and all its descendants (driver JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_peak_rss_mb() -> float:
    """Sum of the per-process resident high-water marks (VmHWM) over the
    tree: exact peaks from the kernel instead of a sampled sum."""
    total_kb = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next((int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")), 0)
        except (OSError, ValueError, IndexError):
            continue
    return total_kb / 1024.0


def jvm_gc_ms(spark) -> float:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans()))


def full_gc(spark) -> None:
    """Python's collector first, so dropped DataFrames release their JVM
    objects; then full JVM collections 0.5 s apart, so Spark's
    ContextCleaner can unpersist what they held before the last one."""
    jvm = spark.sparkContext._jvm
    gc.collect()
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)


def jvm_heap_live_mb(spark) -> float:
    """Heap in use after :func:`full_gc`."""
    full_gc(spark)
    jvm = spark.sparkContext._jvm
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return used / 2**20


def build_session(run_root: str, cores: int, trace: bool):
    from project_obsidian_core_spark.session import build_session as program_session

    conf = {
        "spark.sql.warehouse.dir": f"{run_root}/warehouse",
        "spark.local.dir": f"{run_root}/local",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_root}/tmp -Dderby.system.home={run_root}/derby",
    }
    if trace:
        os.makedirs(f"{run_root}/eventlog")
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{run_root}/eventlog",
                "spark.eventLog.compress": "false",
            }
        )
    spark = program_session(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    master = spark.sparkContext.master
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    if master != f"local[{cores}]" or parts != str(cores):
        raise RuntimeError(f"session is {master} with {parts} shuffle partitions, wanted local[{cores}]")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit; it exits when its stdin
    closes, and takes the Python daemon and workers with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def tail_ms(times_ms: list[float]) -> tuple[float | None, float | None, int]:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(times_ms)
    if n < 11:
        return None, None, n
    pct = 100.0 * (1 - 10 / n)
    return pct, sorted(times_ms)[n - 11], n


def load_benchmark() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --------------------------------------------------------- per-layer ---
_FIELD_ALIAS = {"batch_ms": "ms"}


def per_layer_metrics(names, spans, attributed, op_ids, extras) -> tuple[dict, dict]:
    """Median over timed ops of each ``<span>.<field>``; spans outside the
    ops (set-up) are totalled instead. Returns (metrics, report)."""
    import tracing as tr_mod

    self_ms = tr_mod.self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def op_of(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["id"] if s["id"] in op_ids else None

    def field(s, f):
        a = attributed.get(s["id"], {})
        dur = (s["end"] - s["start"]) * 1000.0
        if f == "ms":
            return dur
        if f == "self_ms":
            return self_ms[s["id"]]
        if f == "plan_ms":
            return dur - a.get("job_ms", 0.0)
        return float(a.get(f, 0.0))

    per_op: dict[str, dict[int, list]] = {}
    setup: dict[str, list] = {}
    for s in spans:
        if s["end"] is None or s["name"] == "op":
            continue
        oid = op_of(s)
        if oid is None:
            setup.setdefault(s["name"], []).append(s)
        else:
            per_op.setdefault(s["name"], {}).setdefault(oid, []).append(s)

    def value(span_name, f):
        ops = per_op.get(span_name)
        if ops:
            return statistics.median(sum(field(s, f) for s in ops.get(o, [])) for o in op_ids)
        return sum(field(s, f) for s in setup.get(span_name, []))

    out = {}
    for name in names:
        if name in extras:
            out[name] = extras[name]
            continue
        span_name, _, f = name.rpartition(".")
        out[name] = value(span_name, _FIELD_ALIAS.get(f, f))

    report = {}
    for span_name in sorted(set(per_op) | set(setup)):
        report[span_name] = {
            "in_op": span_name in per_op,
            "ms": value(span_name, "ms"),
            "self_ms": value(span_name, "self_ms"),
            "jobs": value(span_name, "jobs"),
            "job_ms": value(span_name, "job_ms"),
        }
    return out, report


# --------------------------------------------------------------- run ---
def measure(args, spark, wl, tracer, phases: dict) -> dict:
    """Set-up, warm-up, then ops until ``--seconds`` have passed (at least
    one). Heap and traced counts are read before the workload closes."""
    m = {"outputs": [], "times_ms": [], "op_ids": [], "gc_ms": [], "error": None, "extras": {}}
    with tracer.span("setup"):
        wl.setup()
    phases["inputs"] = time.time() - T_START
    for _ in range(wl.warmup_ops):
        wl.prepare()
        m["outputs"].append(wl.op())
    m["setup_s"] = time.time() - T_START
    t_window = time.perf_counter()
    while True:
        wl.prepare()
        g0 = jvm_gc_ms(spark) if tracer.enabled else 0.0
        t0 = time.perf_counter()
        try:
            with tracer.span("op") as rec:
                out = wl.op()
        except Exception:  # an op that raises counts as failed; stop the loop
            m["error"] = traceback.format_exc()
            break
        m["times_ms"].append((time.perf_counter() - t0) * 1000.0)
        m["outputs"].append(out)
        if tracer.enabled:
            m["gc_ms"].append(jvm_gc_ms(spark) - g0)
            m["op_ids"].append(rec["id"])
        if time.perf_counter() - t_window >= args.seconds:
            break
    phases["window"] = time.time() - T_START
    m["peak_rss_mb"] = tree_peak_rss_mb()
    m["heap_mb"] = jvm_heap_live_mb(spark)
    if tracer.enabled:
        if args.workload == "tick_stream":
            m["extras"]["qan_db.files_total"] = float(wl.files())
        if args.workload == "corpus_dedup":
            m["extras"]["datapipe.dedup_minhash_lsh.candidates"] = float(wl.candidates())
            m["extras"]["datapipe.dedup_minhash_lsh.pairs"] = float(len(m["outputs"][-1]["dedup_minhash_lsh"]))
    return m


def run(args, run_root: str, cores: int, bench: dict) -> int:
    sys.path.insert(0, HERE)
    import tracing as tr_mod
    import workloads

    phases = {"start": time.time() - T_START}
    host0 = host_canary()
    tracer = tr_mod.Tracer(bool(args.trace))
    spark = build_session(run_root, cores, tracer.enabled)
    try:
        phases["session"] = time.time() - T_START
        progress = tr_mod.ProgressLog(spark) if tracer.enabled else None
        wl = workloads.WORKLOADS[args.workload](spark, f"{run_root}/data", args.seed, tracer, cores)
        try:
            m = measure(args, spark, wl, tracer, phases)
        finally:
            wl.close()
        bad = wl.check(m["outputs"])
        phases["check"] = time.time() - T_START
        host1 = host_canary()
    finally:
        stop_session(spark)
    phases["stop"] = time.time() - T_START
    outputs, times_ms, op_ids, gc_ms = m["outputs"], m["times_ms"], m["op_ids"], m["gc_ms"]
    error, extras, setup_s, heap_mb = m["error"], m["extras"], m["setup_s"], m["heap_mb"]
    peak_rss_mb = m["peak_rss_mb"]

    n_warm = wl.warmup_ops
    attempted = len(times_ms) + (1 if error else 0)
    failed_ops = {i - n_warm for i, _, _ in bad if i >= n_warm}
    setup_bad = any(i < n_warm for i, _, _ in bad)
    failed = attempted if setup_bad else len(failed_ops) + (1 if error else 0)
    for i, panel, why in bad:
        label = "set-up" if i < 0 else (f"warm-up {i}" if i < n_warm else f"op {i - n_warm}")
        print(f"MISMATCH {args.workload} {label} {panel}: {why}", file=sys.stderr)
    if error:
        print(f"OP RAISED {args.workload} op {len(times_ms)}:\n{error}", file=sys.stderr)
    if not times_ms:
        print("no timed op completed", file=sys.stderr)
        return 1

    op_ms = statistics.median(times_ms)
    pct, tail, n = tail_ms(times_ms)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "nproc": os.cpu_count(),
        "host.spin_ms": [round(host0["spin_ms"], 2), round(host1["spin_ms"], 2)],
        "host.load1": [host0["load1"], host1["load1"]],
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "ops_timed": len(times_ms),
        "ops_warmup": n_warm,
        "op_tail_ms": {"pct": pct, "value": tail, "samples": n},
        "rows_per_s": wl.rows_per_op / (op_ms / 1000.0),
    }
    if tracer.enabled:
        log = tr_mod.parse_event_log(f"{run_root}/eventlog")
        attributed = tr_mod.attribute(tracer.spans, log, progress.events)
        extras.update(
            {
                "jvm.gc_ms": statistics.median(gc_ms) if gc_ms else 0.0,
                "host.spin_ms_start": host0["spin_ms"],
                "host.spin_ms_end": host1["spin_ms"],
                "host.load1_start": host0["load1"],
                "host.load1_end": host1["load1"],
                "trace.op_ms": op_ms,
            }
        )
        names = [m["name"] for m in bench["per_layer"]]
        values, report = per_layer_metrics(names, tracer.spans, attributed, op_ids, extras)
        self_ms = tr_mod.self_times(tracer.spans)
        fracs = [1.0 - self_ms[o] / ((by["end"] - by["start"]) * 1000.0)
                 for o in op_ids for by in [tracer.spans[o]]]
        values["trace.attributed_frac"] = statistics.median(fracs) if fracs else 0.0
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics = {k: {"value": values.get(k, 0.0), "unit": units[k]} for k in names}
        out_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(f"{out_dir}/trace-{args.workload}-seed{args.seed}.json", "w") as fh:
            json.dump({"host": record, "metrics": values, "spans": report}, fh, indent=1, sort_keys=True)
        for span_name, r in report.items():
            print(f"{span_name:48s} ms={r['ms']:9.1f} self={r['self_ms']:9.1f} jobs={r['jobs']:5.0f}"
                  f"{'' if r['in_op'] else '  (set-up total)'}", file=sys.stderr)
    else:
        values = {
            "setup_s": setup_s,
            "op_ms": op_ms,
            "peak_rss_mb": peak_rss_mb,
            "heap_live_mb": heap_mb,
            "ok_frac": (attempted - failed) / attempted,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    print("# host " + json.dumps(record))
    print(json.dumps({"correct": failed == 0 and not bad, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["tick_stream", "corpus_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, REPO)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"{PACKAGE} not found under {REPO}: run from the repository root", file=sys.stderr)
        return 2
    bench = load_benchmark()

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    base = os.path.join(REPO, ".perfbench_run")
    run_root = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local", "derby", "data"):
        os.makedirs(f"{run_root}/{d}")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": f"{run_root}/local",
            "TMPDIR": f"{run_root}/tmp",
            "TZ": "UTC",
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        }
    )
    time.tzset()
    tempfile.tempdir = f"{run_root}/tmp"
    try:
        return run(args, run_root, cores, bench)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
