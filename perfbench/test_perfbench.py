"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke tests run ``run.py --smoke`` (sf0.001) from the command line, so
they take a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
from reference import Scd1Reference  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_cdc_generator_is_deterministic_per_seed():
    a, next_a = datagen.cdc_files(7, 1000, 1, 3, 1000)
    b, next_b = datagen.cdc_files(7, 1000, 1, 3, 1000)
    c, _ = datagen.cdc_files(8, 1000, 1, 3, 1000)
    assert a == b and next_a == next_b
    assert a != c
    # Files continue the stream: generating 1..3 then 4 equals 1..4.
    d, next_d = datagen.cdc_files(7, 1000, 1, 4, 1000)
    e, _ = datagen.cdc_files(7, 1000, 4, 1, next_a)
    assert d[:3] == a and d[3] == e[0]


def test_cdc_generator_traffic_shape():
    t = datagen.Traffic()
    files, next_key = datagen.cdc_files(3, 150_000, 1, 4, 150_000)
    rows = [r for f in files for r in f]
    assert all(len(f) == t.rows_per_file for f in files)
    assert next_key == 150_000 + 4 * round(t.rows_per_file * t.insert_share)
    deletes = sum(r["op"] == "D" for r in rows) / len(rows)
    assert abs(deletes - t.delete_share) < 0.01
    hot = sum(r["o_orderkey"] >= 150_000 * (1 - t.hot_key_share) for r in rows) / len(rows)
    assert hot > t.hot_row_share - 0.05
    late = sum(r["seq"] < (r["change_id"] // datagen.SEQ_STRIDE) * datagen.SEQ_STRIDE for r in rows)
    assert abs(late / len(rows) - t.late_share) < 0.02


def test_base_tables_are_deterministic():
    a = datagen.base_tables(0.001)
    b = datagen.base_tables(0.001)
    assert sorted(a) == sorted(b)
    assert all(a[k].equals(b[k]) for k in a)
    assert a["orders"].num_rows == 1500 and a["lineitem"].num_rows == 6000


def _row(key, seq, change_id, op="U", price=1.0):
    return {"o_orderkey": key, "o_custkey": 1, "o_orderstatus": "O", "o_totalprice": price,
            "o_orderdate": "1999-01-01", "o_orderpriority": "1-URGENT", "seq": seq,
            "op": op, "change_id": change_id}


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def _df(spark, rows):
    from workloads import cdc_schema

    return spark.createDataFrame([tuple(r[c] for c, _ in datagen.CDC_COLUMNS) for r in rows],
                                 cdc_schema())


def _state(df):
    from workloads import STATE_COLS

    return sorted(tuple(r[c] for c in STATE_COLS) for r in df.collect())


def test_reference_agrees_with_merge_upsert(spark):
    from pyspark.sql import functions as F

    from openalex_walden_spark.operators.merge import merge_upsert

    target = [_row(1, 10, 0), _row(2, 10, 0), _row(3, 10, 0), _row(4, 10, 0)]
    batch = [
        _row(1, 12, 5, price=2.0),  # newer: wins
        _row(2, 8, 6, price=3.0),  # late: loses to the stored row
        _row(3, 11, 7, op="D"),  # delete
        _row(4, 11, 8, price=4.0), _row(4, 11, 9, price=5.0),  # tie: change_id 9 wins
        _row(5, 1, 10, price=6.0),  # new key
        _row(6, 3, 11, price=7.0), _row(6, 2, 12, op="D"),  # older delete loses in-batch
    ]
    got = merge_upsert(_df(spark, target), _df(spark, batch), ["o_orderkey"], "seq",
                       delete_predicate=F.col("op") == "D", tie_breaker="change_id")
    ref = Scd1Reference()
    ref.apply(target)
    ref.apply(batch)
    assert _state(got) == ref.rows()
    assert [r[0] for r in ref.rows()] == [1, 2, 4, 5, 6]


def test_reference_agrees_with_merge_into_state_across_batches(spark, tmp_path):
    """A tombstone beats a later batch's late upsert; a newer upsert
    resurrects the key."""
    from pyspark.sql import functions as F

    from openalex_walden_spark.operators.merge import merge_into_state, read_state

    batches = [
        [_row(1, 10, 0), _row(2, 10, 0), _row(3, 10, 0)],
        [_row(1, 20, 1, op="D"), _row(2, 20, 2, op="D")],
        [_row(1, 15, 3, price=9.0), _row(2, 25, 4, price=8.0), _row(3, 5, 5, price=7.0)],
    ]
    ref = Scd1Reference()
    path = str(tmp_path / "state")
    for b in batches:
        merge_into_state(spark, path, _df(spark, b), ["o_orderkey"], "seq",
                         delete_predicate=F.col("op") == "D", tie_breaker="change_id")
        ref.apply(b)
        assert _state(read_state(spark, path)) == ref.rows()
    assert [r[0] for r in ref.rows()] == [2, 3]


def test_benchmark_json_names():
    b = _bench()
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(NAME_RE.match(n) for n in names), names
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", ["end2end_nightly", "awards_scrape", "cdc_ingest"])
def test_smoke_emits_every_listed_metric(workload):
    b = _bench()
    for trace, listed in ((0, b["end_to_end"]), (1, b["per_layer"])):
        p = _run(workload, trace)
        assert p.returncode == 0, p.stderr[-2000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
        assert set(out["metrics"]) == {m["name"] for m in listed}
        assert all(NAME_RE.match(n) for n in out["metrics"])
        for m in listed:
            assert out["metrics"][m["name"]]["unit"] == m["unit"]
        if trace == 0:
            assert all(v["value"] > 0 for v in out["metrics"].values()), out


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = _run("end2end_nightly", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_spec_matches_benchmark_and_generator():
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    b = _bench()
    assert set(spec["per_layer_moves"]) == {m["name"] for m in b["per_layer"]}
    e2e = {m["name"] for m in b["end_to_end"]}
    assert all(moves[0] in e2e | {"none"} for moves in spec["per_layer_moves"].values())
    assert {w["name"] for w in b["workloads"]} <= set(spec["workloads"])
    traffic = dict(spec["workloads"]["cdc_ingest"]["traffic"])
    assert traffic.pop("state_rows") == 150_000
    assert traffic == datagen.Traffic().__dict__
