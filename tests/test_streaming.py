"""Streaming plane tests (St1-St5): the stream must converge to the batch
semantics the oracle-checked catalog queries define."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from openalex_walden_spark.operators.merge import merge_into_state, merge_upsert, read_state
from openalex_walden_spark.streaming.expectations import split_on_expectations
from openalex_walden_spark.streaming.scd1 import (
    file_stream,
    latest_state,
    run_scd1_stream,
    tumbling_window_stream,
)
from openalex_walden_spark.tables import load_table


@pytest.fixture()
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_merge_upsert_sequencing(spark):
    """Out-of-order protection: a stale source row must not clobber newer
    target state (apply_changes sequence_by contract)."""
    target = spark.createDataFrame([(1, "new", 100), (2, "cur", 50)], "k int, v string, seq int")
    source = spark.createDataFrame(
        [(1, "stale", 10), (2, "newer", 60), (3, "fresh", 5)], "k int, v string, seq int"
    )
    out = {r["k"]: r["v"] for r in merge_upsert(target, source, ["k"], "seq").collect()}
    assert out == {1: "new", 2: "newer", 3: "fresh"}


def test_merge_upsert_delete_propagation(spark):
    """St4: a delete-flagged winner removes the key entirely."""
    target = spark.createDataFrame([(1, "a", 1, False), (2, "b", 1, False)], "k int, v string, seq int, is_delete boolean")
    source = spark.createDataFrame([(1, "x", 2, True)], "k int, v string, seq int, is_delete boolean")
    out = merge_upsert(target, source, ["k"], "seq", delete_predicate=F.col("is_delete"))
    assert {r["k"] for r in out.collect()} == {2}


def test_merge_into_state_versioned(spark, tmp_path):
    state = str(tmp_path / "state")
    b1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, seq int")
    merge_into_state(spark, state, b1, ["k"], "seq")
    b2 = spark.createDataFrame([(2, "b2", 2), (3, "c", 1)], "k int, v string, seq int")
    merge_into_state(spark, state, b2, ["k"], "seq")
    final = {r["k"]: r["v"] for r in read_state(spark, state).collect()}
    assert final == {1: "a", 2: "b2", 3: "c"}


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The Delta-MERGE physics contract: a merge touching one key
    rewrites only that key's bucket; every other bucket's files are
    byte-identical afterwards (same paths, same bytes — never opened)."""
    import glob
    import hashlib

    from openalex_walden_spark.operators.merge import _read_manifest

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(200)], "k int, v string, seq int"
    )
    merge_into_state(spark, state, b1, ["k"], "seq", n_buckets=8)

    def snap():
        return {
            p: hashlib.md5(open(p, "rb").read()).hexdigest()
            for p in glob.glob(f"{state}/buckets/*/v_*/*")
            if os.path.isfile(p)
        }

    before = snap()
    b2 = spark.createDataFrame([(0, "updated", 2)], "k int, v string, seq int")
    merge_into_state(spark, state, b2, ["k"], "seq")
    m1, m2 = _read_manifest(state, 1), _read_manifest(state, 2)
    changed = [b for b in m1["buckets"] if m2["buckets"][b] != m1["buckets"][b]]
    assert len(changed) == 1
    after = snap()
    for p, h in before.items():
        if f"{os.sep}{changed[0]}{os.sep}" not in p.replace(f"{state}/buckets", ""):
            assert after.get(p) == h, f"untouched bucket file rewritten: {p}"
    final = {r["k"]: r["v"] for r in read_state(spark, state).collect()}
    assert len(final) == 200 and final[0] == "updated" and final[1] == "v1"


def test_merge_retry_clobbers_orphaned_bucket_version(spark, tmp_path):
    """A crash between bucket moves and the manifest commit leaves an
    orphaned (uncommitted) bucket-version dir; the retry must replace
    it, not nest new files inside it."""
    from openalex_walden_spark.operators.merge import _bucket_expr

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame([(i, f"v{i}", 1) for i in range(20)], "k int, v string, seq int")
    merge_into_state(spark, state, b1, ["k"], "seq", n_buckets=4)
    # simulate the crashed run: an orphan v_00000002 dir exists for the
    # bucket that key 0 hashes into
    b = spark.createDataFrame([(0,)], "k int").select(_bucket_expr(["k"], 4).alias("b")).collect()[0]["b"]
    orphan = os.path.join(state, "buckets", str(b), "v_00000002")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "stale-part.parquet"), "w") as f:
        f.write("junk from the crashed run")
    b2 = spark.createDataFrame([(0, "updated", 2)], "k int, v string, seq int")
    merge_into_state(spark, state, b2, ["k"], "seq")
    final = {r["k"]: r["v"] for r in read_state(spark, state).collect()}
    assert len(final) == 20 and final[0] == "updated" and final[1] == "v1"
    assert not os.path.exists(os.path.join(orphan, "stale-part.parquet"))


def test_legacy_state_layout_raises(spark, tmp_path):
    """A pre-manifest state dir (bare v_XXXXXXXX at the root) must fail
    loudly rather than read as an empty table."""
    import pytest

    from openalex_walden_spark.operators.merge import current_version

    state = tmp_path / "state"
    (state / "v_00000001").mkdir(parents=True)
    with pytest.raises(ValueError, match="legacy un-manifested"):
        current_version(str(state))


def test_delete_tombstone_blocks_stale_resurrection(spark, tmp_path):
    """Out-of-order delete contract (the full apply_changes semantics):
    after a delete at seq 10, a late batch with seq 7 must NOT
    resurrect the key; a genuinely newer seq 11 upsert must."""
    state = str(tmp_path / "state")

    def mk(rows):
        return spark.createDataFrame(rows, "k int, v string, seq int, is_delete boolean")

    dp = F.col("is_delete")
    merge_into_state(spark, state, mk([(1, "a", 5, False), (2, "b", 5, False)]), ["k"], "seq", delete_predicate=dp)
    merge_into_state(spark, state, mk([(1, None, 10, True)]), ["k"], "seq", delete_predicate=dp)
    assert {r["k"] for r in read_state(spark, state).collect()} == {2}
    merge_into_state(spark, state, mk([(1, "stale", 7, False)]), ["k"], "seq", delete_predicate=dp)
    assert {r["k"] for r in read_state(spark, state).collect()} == {2}
    merge_into_state(spark, state, mk([(1, "new", 11, False)]), ["k"], "seq", delete_predicate=dp)
    out = {r["k"]: r["v"] for r in read_state(spark, state).collect()}
    assert out == {1: "new", 2: "b"}


def test_scd1_stream_matches_batch_dedup(spark, sf_dir, events, tmp_path):
    """St1+St2 end-to-end: stream the events table (json file source,
    AvailableNow) through foreachBatch SCD1 and compare the final state
    with the batch window-dedup (the ev_scd1_latest_state semantics)."""
    src_dir = str(tmp_path / "incoming")
    # Land the events as 4 json files (4 "arrivals"); ts as ts_us bigint.
    ev = events.select("event_id", "ts_us", "user_id", "event_type", "value")
    ev.repartition(4).write.mode("overwrite").json(src_dir)

    stream = file_stream(spark, src_dir, ev.schema, fmt="json")
    state = str(tmp_path / "state")
    run_scd1_stream(
        stream,
        state_path=state,
        checkpoint_path=str(tmp_path / "ckpt"),
        keys=["user_id"],
        sequence_col="ts_us",
        tie_breaker="event_id",
        changelog_path=str(tmp_path / "changelog"),
    )

    got = {
        r["user_id"]: (r["ts_us"], r["event_id"])
        for r in latest_state(spark, state).collect()
    }
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts_us").desc(), F.col("event_id").desc())
    want = {
        r["user_id"]: (r["ts_us"], r["event_id"])
        for r in ev.withColumn("rn", F.row_number().over(w)).where("rn = 1").collect()
    }
    assert got == want

    # St3: the change-log captured every row for downstream chaining.
    changelog = spark.read.parquet(str(tmp_path / "changelog"))
    assert changelog.count() == ev.count()
    assert set(changelog.select("_change_type").distinct().toPandas()["_change_type"]) == {"upsert"}


def test_expectations_split(spark, events):
    """St5: pass/quarantine split is exhaustive and disjoint."""
    ok, bad = split_on_expectations(
        events,
        {
            "value_non_negative": F.col("value") >= 0,
            "click_only": F.col("event_type") == "click",
        },
    )
    n_ok, n_bad, n = ok.count(), bad.count(), events.count()
    assert n_ok + n_bad == n
    assert n_bad > 0  # non-click events exist
    # Quarantined rows name their violated gates.
    fails = bad.select(F.explode("_failed_expectations").alias("f")).distinct()
    assert {r["f"] for r in fails.collect()} <= {"value_non_negative", "click_only"}


def test_tumbling_window_stream(spark, events, tmp_path):
    """Watermarked tumbling windows over a rate-limited file stream equal
    the batch hourly bucketing."""
    src_dir = str(tmp_path / "win_src")
    ev = events.select("event_id", "ts", "event_type")
    ev.repartition(2).write.mode("overwrite").parquet(src_dir)

    stream = file_stream(spark, src_dir, ev.schema, fmt="parquet")
    windowed = tumbling_window_stream(
        stream, "ts", "1 hour", "2 hours", group_cols=("event_type",)
    )
    out_dir = str(tmp_path / "win_out")
    (
        windowed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out_dir)
    batch = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    # Append-mode emits only watermark-closed windows; every emitted row
    # must match its batch counterpart exactly.
    joined = got.alias("g").join(
        batch.alias("b"),
        (F.col("g.window_start") == F.col("b.window_start"))
        & (F.col("g.event_type") == F.col("b.event_type")),
        "left",
    )
    assert joined.where(
        F.col("b.n_events").isNull() | (F.col("g.n_events") != F.col("b.n_events"))
    ).count() == 0
    assert got.count() > 0


def test_changelog_chaining_st3(spark, events, tmp_path):
    """St3: a downstream stage streams the upstream's change-log (the CDF
    chaining pattern) and its aggregate matches the batch answer."""
    src_dir = str(tmp_path / "chain_src")
    ev = events.select("event_id", "ts_us", "user_id", "event_type", "value")
    ev.repartition(3).write.mode("overwrite").json(src_dir)

    stream = file_stream(spark, src_dir, ev.schema, fmt="json")
    changelog = str(tmp_path / "chain_changelog")
    run_scd1_stream(
        stream,
        state_path=str(tmp_path / "chain_state"),
        checkpoint_path=str(tmp_path / "chain_ckpt1"),
        keys=["user_id"],
        sequence_col="ts_us",
        tie_breaker="event_id",
        changelog_path=changelog,
    )

    # Stage 2: stream the change-log into per-type counts.
    log_df = spark.read.parquet(changelog)
    stage2 = file_stream(spark, changelog, log_df.schema, fmt="parquet")
    out_dir = str(tmp_path / "chain_counts")
    (
        stage2.groupBy("event_type")
        .count()
        .writeStream.format("memory")
        .queryName("chain_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {r["event_type"]: r["count"] for r in spark.table("chain_counts").collect()}
    want = {r["event_type"]: r["count"] for r in ev.groupBy("event_type").count().collect()}
    assert got == want


def test_guardrails_block_on_breach(spark, events):
    """Guardrail checks pass within limits and raise (with a full report)
    on breach — the blocking nightly-QA contract."""
    from openalex_walden_spark.operators.guardrails import (
        Guardrail,
        GuardrailViolation,
        null_fraction,
        row_count_drift,
        run_guardrails,
    )

    n = events.count()
    ok_report = run_guardrails(
        events,
        [
            Guardrail("row_drift_small", row_count_drift(n - 3), limit=10),
            Guardrail("value_nulls_low", null_fraction("value"), limit=0.05),
        ],
    )
    assert all(r.ok for r in ok_report)

    with pytest.raises(GuardrailViolation) as exc:
        run_guardrails(
            events,
            [
                Guardrail("row_drift_tight", row_count_drift(n - 100), limit=10),
                Guardrail("value_nulls_low", null_fraction("value"), limit=0.05),
            ],
        )
    report = exc.value.report
    assert [r.ok for r in report] == [False, True]  # all checks evaluated


def test_scd1_stream_delete_propagation_st4(spark, events, tmp_path):
    """St4 through the stream: delete-flagged records remove their key
    from the state (apply_as_deletes semantics)."""
    src_dir = str(tmp_path / "del_src")
    ev = events.select("event_id", "ts_us", "user_id", "event_type", "value")
    ev.repartition(2).write.mode("overwrite").json(src_dir)

    stream = file_stream(spark, src_dir, ev.schema, fmt="json")
    state = str(tmp_path / "del_state")
    run_scd1_stream(
        stream,
        state_path=state,
        checkpoint_path=str(tmp_path / "del_ckpt"),
        keys=["user_id"],
        sequence_col="ts_us",
        tie_breaker="event_id",
        delete_predicate=F.col("event_type") == "error",
    )
    final = latest_state(spark, state)
    # Users whose LATEST event is an error are deleted from state.
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts_us").desc(), F.col("event_id").desc())
    latest = ev.withColumn("rn", F.row_number().over(w)).where("rn = 1")
    deleted_users = {r["user_id"] for r in latest.where("event_type = 'error'").collect()}
    kept_users = {r["user_id"] for r in final.collect()}
    assert deleted_users and kept_users.isdisjoint(deleted_users)
    assert kept_users == {r["user_id"] for r in latest.collect()} - deleted_users


def test_stateful_running_counts_across_restarts(spark, events, tmp_path):
    """applyInPandasWithState: per-key fold state lives in the
    checkpoint, so a SECOND AvailableNow run over newly arrived files
    CONTINUES the totals instead of rescanning history — and the final
    per-key counts equal the batch groupBy over everything."""
    import glob
    import shutil

    from openalex_walden_spark.streaming.stateful import running_counts_stream

    ev = events.select("event_id", "ts_us", "user_id").limit(400).cache()
    ev.count()
    half_a = ev.where(F.col("event_id") % 2 == 0)
    half_b = ev.where(F.col("event_id") % 2 == 1)

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    stage = str(tmp_path / "stage")

    from pyspark.sql.types import StructType

    schema: StructType = ev.schema

    def arrive(df, tag):
        df.coalesce(1).write.mode("overwrite").json(stage)
        os.makedirs(src, exist_ok=True)
        for i, f in enumerate(glob.glob(stage + "/part-*.json")):
            shutil.copy(f, os.path.join(src, f"{tag}_{i}.json"))

    from openalex_walden_spark.streaming.scd1 import file_stream

    arrive(half_a, "a")
    running_counts_stream(
        file_stream(spark, src, schema), "user_id", "ts_us", ckpt, out
    )
    arrive(half_b, "b")
    running_counts_stream(
        file_stream(spark, src, schema), "user_id", "ts_us", ckpt, out
    )

    from pyspark.sql.window import Window

    snap = spark.read.parquet(out)
    w = Window.partitionBy("key").orderBy(F.col("n_events").desc())
    final = (
        snap.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("key", "n_events", "max_seq")
    )
    expect = ev.groupBy(F.col("user_id").cast("string").alias("key")).agg(
        F.count("*").alias("n_events"), F.max("ts_us").alias("max_seq")
    )
    got = {r["key"]: (r["n_events"], r["max_seq"]) for r in final.collect()}
    want = {r["key"]: (r["n_events"], r["max_seq"]) for r in expect.collect()}
    assert got == want
    ev.unpersist()


def test_stream_stream_interval_join(spark, events, tmp_path):
    """Stream-stream interval join (the streaming j15): purchases joined
    to same-user error windows [err_ts, err_ts+30min) with watermarks on
    BOTH sides equals the batch inner join exactly once every file is
    processed (availableNow drains the source, so no row is still held
    back by the watermark)."""
    from openalex_walden_spark.streaming.joins import interval_join_stream

    purch = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    errs = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), "user_id", F.col("ts").alias("e_ts")
    )
    p_dir, e_dir = str(tmp_path / "p_src"), str(tmp_path / "e_src")
    purch.repartition(2).write.mode("overwrite").parquet(p_dir)
    errs.repartition(2).write.mode("overwrite").parquet(e_dir)

    p_stream = file_stream(spark, p_dir, purch.schema, fmt="parquet")
    e_stream = file_stream(spark, e_dir, errs.schema, fmt="parquet")
    joined = interval_join_stream(
        p_stream, e_stream, key="user_id", probe_ts="p_ts",
        build_ts="e_ts", window="30 minutes", watermark="2 hours",
    )
    out_dir = str(tmp_path / "ssj_out")
    (
        joined.select("p.p_id", "b.e_id")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {(r.p_id, r.e_id) for r in spark.read.parquet(out_dir).collect()}
    batch = purch.alias("p").join(
        errs.alias("b"),
        (F.col("p.user_id") == F.col("b.user_id"))
        & (F.col("b.e_ts") <= F.col("p.p_ts"))
        & (F.col("p.p_ts") < F.col("b.e_ts") + F.expr("interval 30 minutes")),
    )
    want = {(r.p_id, r.e_id) for r in batch.select("p_id", "e_id").collect()}
    assert got == want and len(got) > 0


def test_rebucket_state_optimize(spark, tmp_path):
    """The OPTIMIZE-style rebucket: rows and tombstones survive the
    layout rewrite byte-for-value, the new manifest carries the new
    n_buckets, subsequent incremental merges inherit it, and the
    delete/sequencing contract still holds across the rewrite."""
    from openalex_walden_spark.operators.merge import (
        _read_manifest,
        current_version,
        rebucket_state,
    )

    state = str(tmp_path / "rb_state")
    b1 = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(100)], "k int, v string, seq int"
    )
    merge_into_state(spark, state, b1, ["k"], "seq", n_buckets=4)
    # delete key 7 at seq 2 → tombstone
    b2 = spark.createDataFrame([(7, "gone", 2)], "k int, v string, seq int")
    merge_into_state(spark, state, b2, ["k"], "seq", delete_predicate=F.col("v") == "gone")
    live_before = {r["k"]: r["v"] for r in read_state(spark, state).collect()}
    assert 7 not in live_before and len(live_before) == 99

    rebucket_state(spark, state, ["k"], n_buckets_new=16)
    v = current_version(state)
    m = _read_manifest(state, v)
    assert m["n_buckets"] == 16
    live_after = {r["k"]: r["v"] for r in read_state(spark, state).collect()}
    assert live_after == live_before
    # the tombstone crossed the rewrite: a stale (older-seq) upsert for
    # the deleted key must still lose the sequence race
    stale = spark.createDataFrame([(7, "zombie", 1)], "k int, v string, seq int")
    merge_into_state(spark, state, stale, ["k"], "seq")
    assert 7 not in {r["k"] for r in read_state(spark, state).collect()}
    # and a genuinely newer upsert resurrects it under the new layout
    fresh = spark.createDataFrame([(7, "back", 3)], "k int, v string, seq int")
    merge_into_state(spark, state, fresh, ["k"], "seq")
    final = {r["k"]: r["v"] for r in read_state(spark, state).collect()}
    assert final[7] == "back" and len(final) == 100


def test_merge_rejects_mismatched_bucket_keys(spark, tmp_path):
    """The manifest persists the bucketing keys; merging or rebucketing
    with different keys must fail loudly instead of scattering rows
    into buckets the next merge will never read."""
    import pytest

    from openalex_walden_spark.operators.merge import rebucket_state

    state = str(tmp_path / "keys_state")
    b1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, seq int")
    merge_into_state(spark, state, b1, ["k"], "seq", n_buckets=4)
    b2 = spark.createDataFrame([(3, "c", 1)], "k int, v string, seq int")
    with pytest.raises(ValueError, match="bucketed by keys"):
        merge_into_state(spark, state, b2, ["v"], "seq")
    with pytest.raises(ValueError, match="bucketed by keys"):
        rebucket_state(spark, state, ["v"], 8)
    # the right keys still work
    merge_into_state(spark, state, b2, ["k"], "seq")
    assert {r["k"] for r in read_state(spark, state).collect()} == {1, 2, 3}


def test_stream_dedup_within_watermark_drops_redeliveries(spark, events, tmp_path):
    """Bounded-state streaming dedup: an at-least-once source redelivers
    every file; dropDuplicatesWithinWatermark must emit each event_id
    exactly once while keeping only watermark-bounded state (the
    unbounded-state dropDuplicates would also pass this assertion but
    could never be shipped on an infinite stream)."""
    from openalex_walden_spark.streaming.dedup import dedup_within_watermark
    from openalex_walden_spark.streaming.scd1 import file_stream

    src_dir = str(tmp_path / "incoming")
    ev = events.select("event_id", "ts", "user_id", "event_type").limit(500)
    # Two identical deliveries of the same records (same batch window).
    ev.coalesce(1).write.mode("overwrite").parquet(src_dir)
    ev.coalesce(1).write.mode("append").parquet(src_dir)

    stream = file_stream(spark, src_dir, ev.schema, fmt="parquet")
    deduped = dedup_within_watermark(
        stream, keys=["event_id"], event_time_col="ts", delay="1 hour"
    )
    out_dir = str(tmp_path / "out")
    (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out_dir)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_stream_into_ivf_index_matches_batch_assignment(spark, sf_dir, tmp_path):
    """Incremental index maintenance: vectors arriving as a file stream
    route to the same cells batch assignment gives them, and the merged
    cell-partitioned layout equals the all-at-once index."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructType

    from openalex_walden_spark import queries as q
    from openalex_walden_spark.operators.ann_index import (
        assign_cells,
        load_ivf_index,
        save_ivf_index,
        stream_into_index,
    )
    from openalex_walden_spark.queries.advanced import _KM_Q, _TR_CACHE, train_ivf_centroids
    from openalex_walden_spark.tables import register_views

    q.load_all()
    register_views(spark, sf_dir, ("embeddings",))
    _TR_CACHE.clear()
    cents = train_ivf_centroids(spark, sf_dir)
    e = spark.table("embeddings")
    batch_half = e.where(F.col("vec_id") % 2 == 0)
    late_half = e.where(F.col("vec_id") % 2 == 1)

    path = str(tmp_path / "ivf")
    save_ivf_index(
        spark,
        path,
        cents,
        assign_cells(batch_half, cents, _KM_Q).select("vec_id", "cell"),
        quant_scale=_KM_Q,
    )
    # the late half arrives as JSON files
    src = str(tmp_path / "arrivals")
    late_half.select("vec_id", "embedding").coalesce(2).write.json(src)
    schema = (
        StructType()
        .add("vec_id", LongType())
        .add("embedding", ArrayType(FloatType()))
    )
    stream = spark.readStream.schema(schema).json(src)
    stream_into_index(stream, path, cents, _KM_Q, str(tmp_path / "ckpt"))

    _, asg, _ = load_ivf_index(spark, path, expect_quant_scale=_KM_Q)
    # multiset compare: duplicated assignments (a replayed batch
    # appending twice) would duplicate probe candidates — a set compare
    # would mask exactly that bug
    got = sorted((r["vec_id"], r["cell"]) for r in asg.collect())
    want = sorted(
        (r["vec_id"], r["cell"])
        for r in assign_cells(e, cents, _KM_Q).select("vec_id", "cell").collect()
    )
    assert got == want


def test_stream_index_batch_retry_is_idempotent(spark, sf_dir, tmp_path):
    """Structured Streaming re-delivers a failed micro-batch under the
    SAME batch_id; the per-batch overwrite directory must make the
    retry replace the first (possibly partial) write, not append to it
    — duplicated assignment rows would let one neighbour occupy two
    top-k slots in the probe join."""
    import pyspark.sql.functions as F

    from openalex_walden_spark import queries as q
    from openalex_walden_spark.operators.ann_index import (
        assign_cells,
        load_ivf_index,
        save_ivf_index,
        write_stream_batch,
    )
    from openalex_walden_spark.queries.advanced import _KM_Q, _TR_CACHE, train_ivf_centroids
    from openalex_walden_spark.tables import register_views

    q.load_all()
    register_views(spark, sf_dir, ("embeddings",))
    _TR_CACHE.clear()
    cents = train_ivf_centroids(spark, sf_dir)
    e = spark.table("embeddings")
    base = e.where(F.col("vec_id") % 2 == 0)
    late = e.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")

    path = str(tmp_path / "ivf")
    save_ivf_index(
        spark,
        path,
        cents,
        assign_cells(base, cents, _KM_Q).select("vec_id", "cell"),
        quant_scale=_KM_Q,
    )
    # deliver batch 0 twice (simulated retry after a mid-write failure)
    write_stream_batch(late, path, cents, _KM_Q, batch_id=0)
    write_stream_batch(late, path, cents, _KM_Q, batch_id=0)

    _, asg, _ = load_ivf_index(spark, path, expect_quant_scale=_KM_Q)
    got = sorted((r["vec_id"], r["cell"]) for r in asg.collect())
    want = sorted(
        (r["vec_id"], r["cell"])
        for r in assign_cells(e, cents, _KM_Q).select("vec_id", "cell").collect()
    )
    assert got == want, "retried batch duplicated assignment rows"


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, seq int")


def _bucket_dirs(state: str) -> list[str]:
    return sorted(os.path.relpath(d, state) for d, _, _ in os.walk(os.path.join(state, "buckets")))


def _manifests(state: str) -> dict[str, str]:
    return {
        n: open(os.path.join(state, n)).read()
        for n in sorted(os.listdir(state))
        if n.startswith("manifest_v")
    }


def _parquet_files_per_version(state: str, version: int) -> dict[str, int]:
    """bucket → number of .parquet files in its ``v_<version>`` dir."""
    out = {}
    for b in os.listdir(os.path.join(state, "buckets")):
        vdir = os.path.join(state, "buckets", b, f"v_{version:08d}")
        if os.path.isdir(vdir):
            out[b] = sum(1 for f in os.listdir(vdir) if f.endswith(".parquet"))
    return out


def test_empty_batch_merge_is_noop(spark, tmp_path):
    """A batch that touches no bucket writes nothing, commits no new
    manifest and vacuums nothing: every retained manifest and bucket
    directory is as it was."""
    from openalex_walden_spark.operators.merge import current_version

    state = str(tmp_path / "noop_state")
    merge_into_state(spark, state, _kv(spark, [(i, "a", 1) for i in range(50)]), ["k"], "seq", n_buckets=4)
    merge_into_state(spark, state, _kv(spark, [(1, "b", 2)]), ["k"], "seq")
    v, manifests, dirs = current_version(state), _manifests(state), _bucket_dirs(state)

    out = merge_into_state(spark, state, _kv(spark, []), ["k"], "seq")
    assert current_version(state) == v
    assert _manifests(state) == manifests
    assert _bucket_dirs(state) == dirs
    assert not [n for n in os.listdir(state) if n.startswith("_staging")]
    assert out.count() == 50


def test_changelog_delete_propagates_to_chained_stage(spark, tmp_path):
    """St3 feeding St4: stage 1 labels its deletes in the change-log, and
    stage 2, streaming that change-log with the reference's
    ``lower(_change_type) = 'delete'`` predicate, ends with the same
    live state — the deleted key gone from both."""
    schema = "k int, v string, seq bigint, op string"
    src = str(tmp_path / "two_stage_src")
    os.makedirs(src)
    arrivals = [
        [(1, "a", 1, "U"), (2, "b", 1, "U"), (3, "c", 1, "U")],
        [(2, None, 2, "D"), (3, "c2", 2, "U")],
    ]
    for i, rows in enumerate(arrivals):
        path = os.path.join(src, f"changes-{i}.json")
        with open(path, "w") as f:
            for k, v, seq, op in rows:
                f.write(json.dumps({"k": k, "v": v, "seq": seq, "op": op}) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # arrival order
    changelog = str(tmp_path / "two_stage_changelog")
    run_scd1_stream(
        file_stream(spark, src, spark.createDataFrame([], schema).schema, max_files_per_trigger=1),
        state_path=str(tmp_path / "stage1"),
        checkpoint_path=str(tmp_path / "stage1_ckpt"),
        keys=["k"],
        sequence_col="seq",
        delete_predicate=F.col("op") == "D",
        changelog_path=changelog,
    )
    log = spark.read.parquet(changelog)
    assert sorted((r["k"], r["seq"], r["_change_type"]) for r in log.collect()) == [
        (1, 1, "upsert"), (2, 1, "upsert"), (2, 2, "delete"), (3, 1, "upsert"), (3, 2, "upsert"),
    ]

    run_scd1_stream(
        file_stream(spark, changelog, log.schema, fmt="parquet"),
        state_path=str(tmp_path / "stage2"),
        checkpoint_path=str(tmp_path / "stage2_ckpt"),
        keys=["k"],
        sequence_col="seq",
        delete_predicate=F.lower(F.col("_change_type")) == "delete",
    )
    stage1 = {r["k"]: r["v"] for r in latest_state(spark, str(tmp_path / "stage1")).collect()}
    stage2 = {r["k"]: r["v"] for r in latest_state(spark, str(tmp_path / "stage2")).collect()}
    assert stage1 == stage2 == {1: "a", 3: "c2"}


def test_each_bucket_version_is_one_file(spark, tmp_path):
    """Merges shuffle once, clustered by bucket, so every bucket version
    a merge or a rebucket commits holds exactly one parquet file."""
    from openalex_walden_spark.operators.merge import rebucket_state

    state = str(tmp_path / "one_file_state")
    b1 = _kv(spark, [(i, f"v{i}", 1) for i in range(400)]).repartition(4)
    merge_into_state(spark, state, b1, ["k"], "seq", n_buckets=8)
    assert _parquet_files_per_version(state, 1) == {str(b): 1 for b in range(8)}
    b2 = _kv(spark, [(i, "w", 2) for i in range(0, 400, 3)]).repartition(4)
    merge_into_state(spark, state, b2, ["k"], "seq")
    assert _parquet_files_per_version(state, 2) == {str(b): 1 for b in range(8)}
    rebucket_state(spark, state, ["k"], n_buckets_new=5)
    assert _parquet_files_per_version(state, 3) == {str(b): 1 for b in range(5)}
    final = {r["k"]: r["v"] for r in read_state(spark, state).collect()}
    assert len(final) == 400 and final[3] == "w" and final[4] == "v4"


def test_read_state_runs_no_spark_job(spark, tmp_path):
    """The manifest carries the schema, so building the state DataFrame
    runs no schema-inference job; only acting on it does."""
    state = str(tmp_path / "no_job_state")
    merge_into_state(spark, state, _kv(spark, [(i, "a", 1) for i in range(30)]), ["k"], "seq", n_buckets=4)
    sc = spark.sparkContext
    group = "read-state-job-probe"
    sc.setJobGroup(group, "count the jobs read_state runs")
    try:
        df = read_state(spark, state)
        built = list(sc.statusTracker().getJobIdsForGroup(group))
        assert df.count() == 30
        ran = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert built == [] and ran  # the probe does see the count's jobs


def test_manifest_without_schema_reads_and_backfills(spark, tmp_path):
    """A manifest written before the schema field reads by inference,
    and the next commit writes the schema back into the manifest."""
    from openalex_walden_spark.operators.merge import _read_manifest, current_version

    state = str(tmp_path / "legacy_schema_state")
    merge_into_state(spark, state, _kv(spark, [(i, f"v{i}", 1) for i in range(20)]), ["k"], "seq", n_buckets=4)
    v = current_version(state)
    manifest = _read_manifest(state, v)
    stored = manifest.pop("schema")
    with open(os.path.join(state, f"manifest_v{v:08d}.json"), "w") as f:
        json.dump(manifest, f)

    live = {r["k"]: r["v"] for r in read_state(spark, state).collect()}
    assert live == {i: f"v{i}" for i in range(20)}
    merge_into_state(spark, state, _kv(spark, [(0, "new", 2)]), ["k"], "seq")
    assert _read_manifest(state, current_version(state))["schema"] == stored
    final = {r["k"]: r["v"] for r in read_state(spark, state).collect()}
    assert len(final) == 20 and final[0] == "new" and final[1] == "v1"
