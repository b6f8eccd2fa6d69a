"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload {etl_star,bi_reports,corpus_curation}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The runner generates the inputs from the
seed, starts the engine's session (``session.get_spark``), warms the
workload up, runs it as a closed loop for ``--seconds``, checks every
output against DuckDB outside the timed section, and prints, as the last
line of stdout, ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (a separate run with the Spark event log on). The line
before it carries the workload's named metrics and the host record; the
full record, with spans, goes to ``.perfbench_out/``. Everything the run
writes (inputs, warehouse, Spark local dirs, event log) lives under
``.perfbench_run/<pid>/`` and is removed before exit. Exit status is 0
only when every output was correct.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import types  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402

# Driver heap (the session factory's 16g default exceeds a 15 GiB host),
# also pinned as the initial heap so RSS does not track heap growth.
DRIVER_MEM = "2g"


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="film_media_etl_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


# -- host record -------------------------------------------------------------


def host_snapshot() -> dict:
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": list(os.getloadavg()), "ticks": sum(ticks), "steal": ticks[7]}


def steal_pct(a: dict, b: dict) -> float:
    return 100.0 * (b["steal"] - a["steal"]) / max(1, b["ticks"] - a["ticks"])


def code_sha() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(HERE, "*.py"))):
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- process environment -------------------------------------------------------


def configure(run_dir: str, trace: bool) -> str:
    """Point every writer of the engine and of Spark inside ``run_dir``;
    returns the event log directory (traced runs) or ''."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    tempfile.tempdir = tmp  # warehouse, ivf_index_*, dedup_index_* land here
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    log_dir = ""
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    return log_dir


def generate_inputs(run_dir: str, seed: int) -> tuple[str, float, float, dict]:
    """Generate the inputs twice and check the copies are byte-identical.
    Returns the first copy's directory, the time of each generation and
    the bytes per table; only the first generation counts as set-up."""
    import gen

    times, digests, sizes = [], [], {}
    for i in range(2):
        out = os.path.join(run_dir, f"inputs{i}", f"sf{spec.SF}")
        t = time.perf_counter()
        sizes = gen.generate(out, seed, spec.SF)
        times.append(time.perf_counter() - t)
        h = hashlib.sha256()
        for name in gen.TABLES:
            with open(os.path.join(out, f"{name}.parquet"), "rb") as f:
                h.update(f.read())
        digests.append(h.hexdigest())
    if digests[0] != digests[1]:
        raise RuntimeError("input generation is not deterministic for this seed")
    return os.path.join(run_dir, "inputs0", f"sf{spec.SF}"), times[0], times[1], sizes


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    parent = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                parent[int(stat.split("/")[2])] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    out, frontier = [], [pid]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def stop_engine(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both and
    for the JVM's Python workers to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


class Heap:
    """The JVM heap through its management beans: the peak old-generation
    occupancy since :meth:`reset`, and the live heap (used after a full
    collection). The driver heap is pinned, so RSS cannot see either."""

    def __init__(self, spark):
        self.mf = spark._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in self.mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]
        self.old = [p for p in self.pools if "Old" in p.getName() or "Tenured" in p.getName()]

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def read(self) -> dict:
        old_peak = sum(p.getPeakUsage().getUsed() for p in self.old)
        mem = self.mf.getMemoryMXBean()
        mem.gc()
        return {"old_gen_peak_mb": old_peak / 2**20,
                "live_mb": mem.getHeapMemoryUsage().getUsed() / 2**20}


# -- the run -----------------------------------------------------------------


def install_load_table_counter(ctx) -> None:
    """Count calls into ``sources.load_table`` from every engine module
    that bound it (traced runs only)."""
    import film_media_etl_spark.sources as sources

    orig = sources.load_table

    def load_table(*args, **kwargs):
        ctx.load_calls += 1
        return orig(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("film_media_etl_spark") and getattr(mod, "load_table", None) is orig:
            setattr(mod, "load_table", load_table)


def run(args, run_dir: str) -> dict:
    from checks import Oracle
    from spans import Tracer, per_layer, read_event_log
    from workloads import WORKLOADS

    host0 = host_snapshot()
    log_dir = configure(run_dir, bool(args.trace))
    sf_dir, gen_s, gen_check_s, sizes = generate_inputs(run_dir, args.seed)
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir  # DESCRIBE-only oracle typing

    from film_media_etl_spark.queries import all_queries
    from film_media_etl_spark.session import get_spark
    from pyspark import SparkContext

    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")

    ctx = types.SimpleNamespace(
        spark=spark, sf_dir=sf_dir, seed=args.seed, queries=all_queries(),
        tracer=Tracer(bool(args.trace)), load_calls=0,
    )
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        if args.trace:
            install_load_table_counter(ctx)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        # the second generation only checks determinism
        setup_s = time.perf_counter() - T0 - gen_check_s
        heap = Heap(spark)
        heap.reset()

        ops = []
        start = time.perf_counter()
        for batch in wl.batches():
            for name in batch:
                before = ctx.load_calls
                rec = wl.run_op(name)
                rec["load_table_calls"] = ctx.load_calls - before
                ops.append(rec)
            if time.perf_counter() - start >= args.seconds:
                break
        measured_s = time.perf_counter() - start
        jvm_heap = heap.read()

        ctx.tracer.enabled = False
        t = time.perf_counter()
        oracle = Oracle(sf_dir, os.path.join(run_dir, "tmp"))
        try:
            wl.check(ops, oracle)
        finally:
            oracle.close()
        check_s = time.perf_counter() - t
        failed = [r for r in ops if r["error"]]
        m = wl.metrics(ops)
        rss = vm_hwm_mb("self") + vm_hwm_mb(SparkContext._gateway.proc.pid)
        host1 = host_snapshot()
    finally:
        t = time.perf_counter()
        stop_engine(spark)
        stop_s = time.perf_counter() - t

    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": m["p50_ms"],
        "peak_rss_mb": rss,
        "ok_op_ratio": 1.0 - len(failed) / len(ops),
    }
    record.update({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "errors": [f"{r['name']}: {r['error']}" for r in failed][:20],
        "measured_s": measured_s,
        "end_to_end": e2e,
        "named": dict(m["named"], failed_op_ratio={"value": len(failed) / len(ops), "unit": "ratio"},
                      setup_s={"value": setup_s, "unit": "s"},
                      peak_rss_mb={"value": rss, "unit": "MB"},
                      heap_old_gen_peak_mb={"value": jvm_heap["old_gen_peak_mb"], "unit": "MB"},
                      heap_live_mb={"value": jvm_heap["live_mb"], "unit": "MB"}),
        "ops": [{"name": r["name"], "wall_s": r["wall_s"], "ok": not r["error"]} for r in ops],
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": host0["loadavg"], "loadavg_end": host1["loadavg"],
            "steal_pct": steal_pct(host0, host1),
            "seed": args.seed, "sf": spec.SF, "input_bytes": sizes,
            "code_sha": code_sha(), "driver_mem": DRIVER_MEM,
            "session_start_s": session_start_s, "gen_s": gen_s, "gen_check_s": gen_check_s,
            "check_s": check_s, "stop_s": stop_s,
        },
    })
    if args.trace:
        events = read_event_log(log_dir)
        record["per_layer"] = per_layer(ops, ctx.tracer.spans, events, session_start_s)
        record["per_layer"].update({f"jvm.heap_{k}": v for k, v in jvm_heap.items()})
        record["spans"] = ctx.tracer.spans
    return record


def tracing_overhead(record: dict, out_dir: str) -> dict | None:
    """Traced minus untraced end-to-end values, against the newest
    untraced record of the same workload and seed in ``out_dir``."""
    best = None
    for path in glob.glob(os.path.join(out_dir, f"{record['workload']}_seed{record['seed']}_trace0_*.json")):
        if best is None or os.path.getmtime(path) > os.path.getmtime(best):
            best = path
    if best is None:
        return None
    with open(best) as f:
        base = json.load(f)["end_to_end"]
    return {k: record["end_to_end"][k] - base[k] for k in base}


def main() -> int:
    args = parse_args()
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import film_media_etl_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(run_dir, ignore_errors=True)  # a crashed run with a reused pid
    os.makedirs(run_dir)
    try:
        record = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    if args.trace:
        record["tracing_overhead"] = tracing_overhead(record, out_dir)
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(out_dir, f"{args.workload}_seed{args.seed}_trace{args.trace}_{stamp}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    for err in record["errors"]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    units = spec.LAYERS if args.trace else {k: v[0] for k, v in spec.END_TO_END.items()}
    values = record["per_layer"] if args.trace else record["end_to_end"]
    summary = {"named": record["named"], "host": record["host"], "record": os.path.relpath(path, ROOT)}
    if args.trace:
        summary["tracing_overhead"] = record["tracing_overhead"]
    print(json.dumps(summary))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
