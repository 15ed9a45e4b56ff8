"""Pin the row count and fingerprint of every batch task in
``expected.json``, for the scale factors the benchmark runs.

    python3 perfbench/pin_expected.py

Run it only when a task's output is meant to change; the benchmark counts
any other difference as a failed operation.
"""

from __future__ import annotations

import json
import os
import sys

import run

SCALES = (run.SMOKE_SF, run.SF)


def main() -> None:
    sys.path.insert(0, run.ROOT)
    os.environ.update(SPARK_GRAFT_CPUS=str(run.host_facts()["nproc"]),
                      SPARK_GRAFT_DRIVER_MEM=run.driver_heap(run.host_facts()["ram_gb"]))
    import datagen
    import workloads as wl
    from spans import Tracer

    out = {}
    spark = None
    for sf in SCALES:
        data_dir = datagen.ensure_base_tables(os.path.join(run.WORK, "data"), sf)
        if spark is None:
            spark = run.setup_round(Tracer(False), {"spark.ui.showConsoleProgress": "false"}, data_dir)
        from openalex_walden_spark import queries as q

        pins = {}
        for query in sorted({qn for wave in wl.end2end_waves(0) for _, qn in wave} | set(wl.AWARDS_TASKS)):
            row = wl.fingerprint_df(q.CATALOG[query].spark(spark, data_dir)).collect()[0]
            pins[query] = [int(row["n"]), int(row["h"] or 0)]
            print(f"sf{sf:g} {query} {pins[query]}", flush=True)
        out[f"sf{sf:g}"] = pins
    spark.stop()
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
