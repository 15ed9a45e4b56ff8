"""Benchmark entry point.

    python3 perfbench/run.py --workload end2end_nightly --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  Builds the inputs from the seed (the
base catalog is cached under ``perfbench/_work``), creates the session
through ``openalex_walden_spark.session.get_spark``, runs the workload
closed-loop, checks every result, and prints one JSON object as the last
line of stdout: ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer metrics (Spark event log,
job groups and a StreamingQueryListener switched on, spans written to
``perfbench/_work/traces``).  The line before it, prefixed ``# info``,
holds host facts, the resolved Spark conf, sample counts and any failed
operations.  ``--smoke`` runs the same code at sf0.001 with no time floor.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

WORKLOADS = ("end2end_nightly", "awards_scrape", "cdc_ingest")
SF = 0.1  # scale factor of the base catalog
SMOKE_SF = 0.001
DEADLINE_S = 170  # a run must end within 180 s


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        sha = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "git_sha": sha,
    }


def driver_heap(ram_gb: float) -> str:
    """A quarter of the host's RAM, between 1g and 4g: the JVM shares the
    host with the Python driver and, on shared hosts, with neighbours."""
    return f"{max(1, min(4, int(ram_gb // 4)))}g"


def jvm_gc_ms(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return kb / 1024.0


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot: how much CPU
    time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def pct(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def setup_round(tracer, conf: dict, data_dir: str):
    """The set-up: session through get_spark (which launches the JVM), an
    import of the query catalog, and a warm-up query over ``orders``."""
    from openalex_walden_spark.session import get_spark
    from openalex_walden_spark.tables import register_views

    with tracer.span("setup.round"):
        with tracer.span("session.start"):
            spark = get_spark(app_name="perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("queries.load_all"):
            for m in [m for m in sys.modules if m.startswith("openalex_walden_spark.queries")]:
                del sys.modules[m]
            from openalex_walden_spark import queries

            queries.load_all()
        with tracer.span("session.warmup"):
            register_views(spark, data_dir, ("orders",))
            spark.sql("SELECT o_orderstatus, count(*) FROM orders GROUP BY 1").collect()
    return spark


class DeadlineExceeded(Exception):
    pass


def _deadline(*_):
    raise DeadlineExceeded(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001, no time floor")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "openalex_walden_spark", "session.py")):
        _die(f"no openalex_walden_spark package under {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}{'-smoke' if args.smoke else ''}"
    run_dir = os.path.join(WORK, "runs", tag)
    tmp_dir = os.path.join(WORK, "tmp")
    log_dir = os.path.join(WORK, "logs")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (run_dir, tmp_dir, log_dir):
        os.makedirs(d, exist_ok=True)

    # Everything the session writes stays in the checkout; the JVM's
    # stderr (where codegen fallbacks are logged) goes to a file.
    facts = host_facts()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(facts["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": driver_heap(facts["ram_gb"]),
        "SPARK_LOCAL_DIRS": tmp_dir,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # spark-submit's launcher JVM
        "TMPDIR": tmp_dir,
    })
    jvm_log_path = os.path.join(log_dir, f"{tag}.log")
    real_stderr = os.dup(2)
    log_fd = os.open(jvm_log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    jvms: list = []  # the gateway JVM once launched: waited for on every exit path
    try:
        out, info = bench(args, facts, tag, run_dir, tmp_dir, jvm_log_path, jvms)
    finally:
        for proc in jvms:
            if proc.poll() is None:
                proc.stdin.close()  # the gateway exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        os.dup2(real_stderr, 2)
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)  # state, inbox, exports: ~25 MB a run

    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir, tag + ".json"), "w") as f:
        json.dump({**out, "info": info}, f, indent=1)
    print("# info " + json.dumps(info, default=str))
    print(json.dumps(out))
    return 0


def bench(args, facts: dict, tag: str, run_dir: str, tmp_dir: str, jvm_log_path: str,
          jvms: list) -> tuple[dict, dict]:
    import datagen
    import workloads as wl
    from spans import Tracer

    sf = SMOKE_SF if args.smoke else SF
    data_dir = datagen.ensure_base_tables(os.path.join(WORK, "data"), sf)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(f"sf{sf:g}", {})

    tracer = Tracer(bool(args.trace))
    event_dir = os.path.join(run_dir, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}",
    }
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    steal0 = cpu_steal_jiffies()
    # One cold set-up, as the nightly job pays it: a JVM launch and a
    # first query on it.  A second round in the same JVM would only time a
    # warm restart, and a fresh JVM per round costs ~14 s, more than a run
    # can spare.
    t0 = time.perf_counter()
    spark = setup_round(tracer, conf, data_dir)
    setup_s = time.perf_counter() - t0
    if getattr(spark.sparkContext._gateway, "proc", None) is not None:
        jvms.append(spark.sparkContext._gateway.proc)
    tracer.spark = spark
    wl.time_register_views(tracer)
    listener = None
    if args.trace and args.workload == "cdc_ingest":
        listener = _progress_listener(spark)

    ctx = wl.Ctx(spark=spark, tracer=tracer, data_dir=data_dir, run_dir=run_dir,
                 seed=args.seed, seconds=0.0 if args.smoke else args.seconds,
                 expected=expected, jvm_log=wl.JvmLog(jvm_log_path),
                 gc_ms=lambda: jvm_gc_ms(spark))
    if args.workload == "cdc_ingest":
        wl.run_cdc(ctx)
    else:
        with tracer.span("pipelines.execution_waves"):
            waves = wl.end2end_waves(args.seed) if args.workload == "end2end_nightly" \
                else wl.awards_waves(args.seed)
        wl.run_batch(ctx, waves, wl.WORKS_TASK if args.workload == "end2end_nightly" else None)
    rss = jvm_peak_rss_mb(spark)
    conf_resolved = {k: v for k, v in spark.sparkContext.getConf().getAll()
                     if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory",
                                      "spark.eventLog.enabled"))}
    facts.update(spark=spark.version,
                 java=spark.sparkContext._jvm.java.lang.System.getProperty("java.version"))
    app_id = spark.sparkContext.applicationId
    if listener is not None:
        listener.wait_for(len(ctx.extra.get("commits", [])))
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    steal1 = cpu_steal_jiffies()

    e2e = {
        "setup_s": (setup_s, "s"),
        "run_s": (statistics.median(ctx.passes), "s"),
        "batch_p50_s": (pct(ctx.units, 50), "s"),
        "batch_p90_s": (pct(ctx.units, 90), "s"),
        "rows_per_s": (ctx.rows / (sum(ctx.passes) - ctx.excluded_s), "1/s"),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "sf": sf, "trace": args.trace,
        "host": facts, "conf": conf_resolved,
        "host_steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "priming_pass_s": [p.dur for p in tracer.named("pipelines.pass") if p.attrs.get("priming")],
        "counted_passes": len(ctx.passes), "pass_s": ctx.passes, "batch_samples": len(ctx.units),
        "peak_rss_mb": rss, "errors": ctx.ops.errors, "run_id": tracer.run_id,
    }
    if args.workload == "cdc_ingest":
        reads = [s.dur for s in tracer.named("merge.read_state")]
        info.update(read_p50_s=pct(reads, 50), read_p90_s=pct(reads, 90), read_samples=len(reads))

    if args.trace:
        import layers

        metrics, notes = layers.per_layer(
            tracer, ctx, os.path.join(event_dir, app_id), facts["nproc"],
            gc_s=ctx.extra.get("gc_s", 0.0), progress=listener.progress if listener else [])
        info.update(notes)
        metrics["jvm.peak_rss_mb"] = (rss, "MB")
        metrics["trace.run_s"] = (e2e["run_s"][0], "s")
        base = _untraced_run_s(args.workload)
        if base is not None:
            info["tracing_overhead_s"] = e2e["run_s"][0] - base
        trace_path = os.path.join(WORK, "traces", f"{tag}-{tracer.run_id}.jsonl")
        tracer.write(trace_path)
        info["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = e2e

    out = {
        "correct": ctx.ops.failed == 0,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return out, info


def _untraced_run_s(workload: str) -> float | None:
    """Median run_s of the untraced runs of ``workload`` made in this
    checkout: the base the tracing overhead is measured against."""
    import glob

    values = []
    for path in glob.glob(os.path.join(WORK, "results", f"{workload}-s*-t0.json")):
        with open(path) as f:
            values.append(json.load(f)["metrics"]["run_s"]["value"])
    return statistics.median(values) if values else None


def _progress_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                self.progress.append({"batch": p.batchId, "rows": p.numInputRows,
                                      "duration_ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait_for(self, n: int, timeout: float = 10.0) -> None:
            end = time.time() + timeout
            while len(self.progress) < n and time.time() < end:
                time.sleep(0.05)

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


if __name__ == "__main__":
    sys.exit(main())
