"""The workloads.  Each runs closed-loop (one client: the next operation
starts when the previous one returned): one priming pass, then counted
passes until ``seconds`` have passed and at least ``MIN_COUNTED_PASSES``
were counted.  Every operation is recorded as attempted or failed.

* ``end2end_nightly``: a fixed slice of the nightly DAG
  (``PIPELINES["walden_end2end"]``), submitted in ``execution_waves``
  order, each task's result materialised, the works output exported.
* ``awards_scrape``: a fixed set of funder-scrape parses.
* ``cdc_ingest``: seeded change files drained through the SCD1 stream
  into a bucketed state table, with reads of the state after each commit.
"""

from __future__ import annotations

import json
import os
import random
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import datagen
from reference import PAYLOAD, Scd1Reference
from spans import Tracer

# A slice of the 31 query tasks of the nightly DAG.  A full pass takes
# ~100 s warm and ~155 s cold on 4 cores, more than a run may take; the
# slice keeps four waves from the fan-in at Union to the snapshot (with
# the wave-10 fan-out, whose order the seed permutes) and the regime:
# traced on 4 cores, a pass takes 4.4 s at sf0.1 (build+plan 1.7 s, exec
# 1.8 s, export 0.7 s) and still 3.3 s at sf0.001, with 1/100 the rows.
END2END_TASKS = (
    "Union",
    "SDG_Frontfill",
    "parse_referenced_works",
    "Works_Enriched",
    "Full_Snapshot",
)
WORKS_TASK = "Works_Enriched"  # its output is exported through export_snapshot

# Funder-scrape parses over the 150k ``orders`` rows, each a one-task
# parquet scan under per-row regex work.  The heaviest parses (letten
# ~25 s, potter ~18 s per pass at sf0.1 on 4 cores) do not fit a run;
# cn_province (~3 s warm) is the heaviest that does, nwo (~1.3 s) a light
# one.
AWARDS_TASKS = (
    "cn_province_awards_parse",
    "nwo_parse_awards",
)

CDC_FILES_PER_PASS = 2
CDC_RANGE_WIDTH = 100
CDC_KEYS = ["o_orderkey"]


@dataclass
class Ops:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    data_dir: str
    run_dir: str
    seed: int
    seconds: float
    expected: dict
    jvm_log: "JvmLog"
    gc_ms: Callable[[], int]  # the driver JVM's cumulative GC time
    ops: Ops = field(default_factory=Ops)
    passes: list[float] = field(default_factory=list)  # counted pass times
    units: list[float] = field(default_factory=list)  # task / trigger latencies
    rows: int = 0  # rows produced (batch) or merged (cdc) in counted passes
    excluded_s: float = 0.0  # time in counted passes not spent producing ``rows``
    extra: dict = field(default_factory=dict)


class JvmLog:
    """The driver JVM's stderr, redirected to a file: codegen fallbacks
    are counted from it."""

    MARK = b"Failed to compile the generated Java code"

    def __init__(self, path: str):
        self.path = path

    def offset(self) -> int:
        return os.path.getsize(self.path) if os.path.exists(self.path) else 0

    def count_since(self, off: int) -> int:
        if not os.path.exists(self.path):
            return 0
        with open(self.path, "rb") as f:
            f.seek(off)
            return f.read().count(self.MARK)


def _has_map(t: T.DataType) -> bool:
    if isinstance(t, T.MapType):
        return True
    if isinstance(t, T.StructType):
        return any(_has_map(f.dataType) for f in t.fields)
    if isinstance(t, T.ArrayType):
        return _has_map(t.elementType)
    return False


def fingerprint_df(df: DataFrame) -> DataFrame:
    """One-row (n, h): the row count and an order-insensitive hash of every
    column.  Computing it evaluates every column of every row, so it is
    also the action that materialises a task."""
    cols = [
        F.to_json(F.col(f"`{f.name}`")) if _has_map(f.dataType) else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))
    return df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))


def time_register_views(tracer: Tracer) -> None:
    """Time ``tables.register_views`` where the catalog calls it (every
    ``QuerySpec.spark`` call registers the views its query reads)."""
    from openalex_walden_spark.queries import registry

    real = registry.register_views

    def timed(*args, **kwargs):
        with tracer.span("tables.register_views"):
            return real(*args, **kwargs)

    registry.register_views = timed


# ---------------------------------------------------------------------------
# Batch workloads
# ---------------------------------------------------------------------------


def end2end_waves(seed: int) -> list[list[tuple[str, str]]]:
    """(task, query) per wave of the DAG slice, seeded order within a wave."""
    from openalex_walden_spark.pipelines.registry import PIPELINES, execution_waves

    p = PIPELINES["walden_end2end"]
    caps = {t.name: t.capability for t in p.tasks}
    rng = random.Random(seed)
    waves = []
    for wave in execution_waves(p):
        picked = [(t, caps[t].split("query:", 1)[1]) for t in wave if t in END2END_TASKS]
        if picked:
            rng.shuffle(picked)
            waves.append(picked)
    return waves


def awards_waves(seed: int) -> list[list[tuple[str, str]]]:
    tasks = [(q, q) for q in AWARDS_TASKS]
    random.Random(seed).shuffle(tasks)
    return [tasks]  # the scrape fleet has no dependencies: one wave


def _run_task(ctx: Ctx, task: str, query: str, export: bool) -> None:
    from openalex_walden_spark import queries as q
    from openalex_walden_spark.sinks.json_export import export_snapshot

    tr = ctx.tracer
    want = ctx.expected.get(query)
    with tr.span("pipelines.task", task=task, query=query) as ts:
        off = ctx.jvm_log.offset()
        try:
            with tr.span("queries.build"):
                df = q.CATALOG[query].spark(ctx.spark, ctx.data_dir)
            fp = fingerprint_df(df)
            with tr.span("queries.plan"):
                fp._jdf.queryExecution().executedPlan()
            with tr.span("queries.exec"):
                row = fp.collect()[0]
            got = [int(row["n"]), int(row["h"] or 0)]
            ok = want is not None and got == want
            ts.attrs["result"] = got
        except Exception as e:  # a failed task is counted, the pass goes on
            ok, got = False, repr(e)[:200]
        fallbacks = ctx.jvm_log.count_since(off)
        if fallbacks:
            ts.attrs["codegen_fallbacks"] = fallbacks
        ctx.ops.record(ok, f"{query}: got {got}, expected {want}")
        if ok:
            ts.attrs["rows"] = got[0]
        if export and ok:
            path = os.path.join(ctx.run_dir, "works_export")
            try:
                with tr.span("sinks.export_snapshot"):
                    manifest = export_snapshot(df, path, list(df.columns))
                ok = manifest["n_files"] >= 1 and _count_lines(path, manifest) == got[0]
                ts.attrs["export"] = {"files": manifest["n_files"], "bytes": manifest["total_bytes"]}
            except Exception as e:
                ok, manifest = False, repr(e)[:200]
            ctx.ops.record(ok, f"export of {query}: {manifest}")


def _count_lines(path: str, manifest: dict) -> int:
    n = 0
    for e in manifest["entries"]:
        with open(os.path.join(path, e["file"]), "rb") as f:
            n += sum(1 for _ in f)
    return n


# The JIT is still warming over the first passes, so pass times trend
# down; a fixed count keeps the median's position on that trend the same
# from run to run (``seconds`` only extends a run whose passes got faster).
MIN_COUNTED_PASSES = 4


def _start_counting(ctx: Ctx) -> float:
    ctx.extra["gc_ms0"] = ctx.gc_ms()
    return time.perf_counter()


def _done(ctx: Ctx, start: float) -> bool:
    """Closed loop: stop once ``seconds`` have passed since the priming pass
    ended and enough passes were counted; the GC time of the counted
    passes is taken here."""
    if len(ctx.passes) < MIN_COUNTED_PASSES or time.perf_counter() - start < ctx.seconds:
        return False
    ctx.extra["gc_s"] = (ctx.gc_ms() - ctx.extra["gc_ms0"]) / 1000.0 / len(ctx.passes)
    return True


def run_batch(ctx: Ctx, waves: list[list[tuple[str, str]]], export_task: str | None) -> None:
    tr = ctx.tracer
    start = None
    n = 0
    while True:
        with tr.span("pipelines.pass", n=n) as ps:
            for wave in waves:
                with tr.span("pipelines.wave"):
                    for task, query in wave:
                        _run_task(ctx, task, query, export=task == export_task)
        n += 1
        if start is None:  # pass 0 primes the JIT and codegen caches
            ps.attrs["priming"] = True
            start = _start_counting(ctx)
            continue
        ctx.passes.append(ps.dur)
        tasks = [s for s in tr.spans if s.name == "pipelines.task" and s.id > ps.id]
        ctx.units += [s.dur for s in tasks]
        ctx.rows += sum(s.attrs.get("rows", 0) for s in tasks)
        if _done(ctx, start):
            break


# ---------------------------------------------------------------------------
# CDC workload
# ---------------------------------------------------------------------------


def cdc_schema() -> T.StructType:
    types = {"bigint": T.LongType(), "double": T.DoubleType(), "string": T.StringType()}
    return T.StructType([T.StructField(n, types[t]) for n, t in datagen.CDC_COLUMNS])


STATE_COLS = ("o_orderkey", *PAYLOAD, "seq", "change_id")


def _state_rows(df: DataFrame) -> list[tuple]:
    pdf = df.select(*STATE_COLS).toPandas()
    return sorted(zip(*(pdf[c].tolist() for c in STATE_COLS)))


def initial_rows(orders_path: str) -> list[dict]:
    """Every orders row as a change at sequence 0 (read with pyarrow, so
    the reference does not depend on the engine under test)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(orders_path, columns=[c for c in STATE_COLS if c.startswith("o_")])
    t = t.set_column(t.schema.get_field_index("o_orderdate"), "o_orderdate",
                     pc.strftime(t["o_orderdate"], "%Y-%m-%d"))
    rows = t.to_pylist()
    for r in rows:
        r.update(seq=0, op="U", change_id=0)
    return rows


def run_cdc(ctx: Ctx) -> None:
    import openalex_walden_spark.streaming.scd1 as scd1
    from openalex_walden_spark.operators import merge

    spark, tr = ctx.spark, ctx.tracer
    state = os.path.join(ctx.run_dir, "state")
    inbox = os.path.join(ctx.run_dir, "inbox")
    ckpt = os.path.join(ctx.run_dir, "checkpoint")
    changelog = os.path.join(ctx.run_dir, "changelog")
    os.makedirs(inbox)

    # Initial state: every orders row at sequence 0, merged through the
    # same path the stream uses.
    orders_path = os.path.join(ctx.data_dir, "orders.parquet")
    initial = spark.read.parquet(orders_path).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
        F.lit(0).cast("bigint").alias("seq"), F.lit("U").alias("op"),
        F.lit(0).cast("bigint").alias("change_id"),
    )
    ref = Scd1Reference()
    seed_rows = initial_rows(orders_path)
    ref.apply(seed_rows)
    n_keys = len(seed_rows)
    delete = F.col("op") == "D"
    with tr.span("cdc.seed_state"):
        merge.merge_into_state(spark, state, initial, CDC_KEYS, "seq",
                               delete_predicate=delete, tie_breaker="change_id")

    files: list[list[dict]] = []
    reads: list[tuple[int, str, object, list[tuple]]] = []  # (commit, kind, arg, rows)
    rng = random.Random(ctx.seed)
    real_merge = scd1.merge_into_state

    def timed_merge(spark_, state_path, batch, **kw):
        # Called once per trigger by run_scd1_stream's foreachBatch.
        before = _manifest_buckets(state_path)
        with tr.span("merge.call") as ms:
            out = real_merge(spark_, state_path, batch, **kw)
        after = _manifest_buckets(state_path)
        ms.attrs["touched_buckets"] = sum(1 for b, v in after.items() if before.get(b) != v)
        commit = len(ctx.extra.setdefault("commits", []))
        ctx.extra["commits"].append(ms.dur)
        # The reads run inside the trigger, right after its commit; their
        # time is kept on the merge span so that the streaming overhead
        # and the ingest rate can leave it out.
        hi = ctx.extra["next_key"]
        k = rng.randrange(hi)
        with tr.span("merge.read_state", kind="point") as r1:
            rows = _state_rows(merge.read_state(spark_, state_path).where(F.col("o_orderkey") == k))
        reads.append((commit, "point", k, rows))
        lo = rng.randrange(max(hi - CDC_RANGE_WIDTH, 1))
        with tr.span("merge.read_state", kind="range") as r2:
            rows = _state_rows(merge.read_state(spark_, state_path)
                               .where(F.col("o_orderkey").between(lo, lo + CDC_RANGE_WIDTH - 1)))
        reads.append((commit, "range", lo, rows))
        ms.attrs["read_s"] = r1.dur + r2.dur
        ctx.extra.setdefault("read_s", []).append(ms.attrs["read_s"])
        return out

    scd1.merge_into_state = timed_merge
    try:
        schema = cdc_schema()
        next_key = n_keys
        ctx.extra["next_key"] = next_key
        start = None
        mtime = time.time() - 10_000
        n = 0
        while True:
            batch, next_key = datagen.cdc_files(ctx.seed, n_keys, len(files) + 1,
                                                CDC_FILES_PER_PASS, next_key)
            for rows in batch:
                files.append(rows)
                mtime += 1
                datagen.write_cdc_file(os.path.join(inbox, f"changes-{len(files):05d}.json"),
                                       rows, mtime)
            ctx.extra["next_key"] = next_key
            before = len(ctx.extra.get("commits", []))
            with tr.span("pipelines.pass", n=n) as ps:
                with tr.span("streaming.drain"):
                    scd1.run_scd1_stream(
                        scd1.file_stream(spark, inbox, schema, max_files_per_trigger=1),
                        state, ckpt, CDC_KEYS, "seq", delete_predicate=delete,
                        tie_breaker="change_id", changelog_path=changelog,
                    )
            n += 1
            commits = ctx.extra["commits"][before:]
            ctx.ops.record(len(commits) == CDC_FILES_PER_PASS,
                           f"pass {n}: {len(commits)} triggers for {CDC_FILES_PER_PASS} files")
            if start is None:
                ps.attrs["priming"] = True
                start = _start_counting(ctx)
                continue
            ctx.passes.append(ps.dur)
            ctx.units += commits
            ctx.rows += sum(len(f) for f in batch)
            ctx.excluded_s += sum(ctx.extra["read_s"][before:])
            if _done(ctx, start):
                break
    finally:
        scd1.merge_into_state = real_merge

    # Untimed: replay the files through the reference and compare every
    # read and the final state.
    _check_cdc(ctx, ref, files, reads, merge.read_state(spark, state))
    ctx.extra["files"] = len(files)
    ctx.extra["state_dir"] = state
    ctx.extra["changelog_dir"] = changelog
    if tr.traced:
        stored = merge.read_state(spark, state, include_tombstones=True).count()
        current = sum(_dir_bytes(os.path.join(state, "buckets", b, f"v_{v:08d}"))
                      for b, v in _manifest_buckets(state).items())
        live_bytes = current * len(ref.rows()) / stored
        ctx.extra["state_bytes_per_live_byte"] = _dir_bytes(state) / live_bytes


def _manifest_buckets(state_path: str) -> dict[str, int]:
    """Bucket → version of the newest manifest (the layout documented in
    ``operators.merge``); empty before the first commit."""
    names = sorted(f for f in os.listdir(state_path) if f.startswith("manifest_v")) \
        if os.path.isdir(state_path) else []
    if not names:
        return {}
    with open(os.path.join(state_path, names[-1])) as f:
        return {b: int(v) for b, v in json.load(f)["buckets"].items()}


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _check_cdc(ctx: Ctx, ref: Scd1Reference, files, reads, final_df) -> None:
    by_commit: dict[int, list] = {}
    for commit, kind, arg, rows in reads:
        by_commit.setdefault(commit, []).append((kind, arg, rows))
    for i, batch in enumerate(files):
        ref.apply(batch)
        for kind, arg, rows in by_commit.get(i, []):
            keys = [arg] if kind == "point" else range(arg, arg + CDC_RANGE_WIDTH)
            want = [r for r in map(ref.get, keys) if r is not None]
            ctx.ops.record(rows == want, f"{kind} read at commit {i} of key {arg}")
    ctx.ops.record(_state_rows(final_df) == ref.rows(), "final state differs from the reference")
