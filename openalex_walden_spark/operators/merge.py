"""MERGE / SCD1 upsert on plain parquet (no Delta required), with
partition-pruned state rewrites.

The reference leans on Delta ``MERGE INTO`` (~40 statements; J9/J10) and
DLT ``apply_changes`` SCD1 (``Crossref.py:594-602``,
``UnionAllWorksIntoLocationsParsed.ipynb`` cell 1). Open-source parity:

- ``merge_upsert`` is the portable semantic core: union target and
  source, keep the winner per key by (sequence DESC, source-beats-
  target, tie DESC) — the exact sequencing/out-of-order contract of
  ``apply_changes(sequence_by=…)``: a stale source row can never clobber
  a newer target row.
- ``merge_into_state`` is the physical layer, matching Delta MERGE's
  *physics* (``CreateLocationsMapped.sql:103-522`` touches only matched
  files — the reference's 67M-row citation MERGE runs ~1 min,
  ``CreateWorksEnriched.ipynb`` cell 7): state is hash-bucketed by key
  into immutable per-bucket version directories, and a merge reads,
  shuffles, and rewrites ONLY the buckets containing touched keys. A
  manifest (the commit log) maps bucket → current version; untouched
  buckets keep their pointer and their files are never opened. At
  100 TB with k buckets, a nightly merge that touches 1 % of keys does
  O(touched-buckets/k) of the I/O of a full rewrite instead of O(table).

Deletes persist as **tombstone rows** (``_tombstone`` = true, filtered
out of reads): a late batch carrying an older sequence for a deleted key
loses the sequence race against the tombstone instead of resurrecting
the key — the full out-of-order contract, not just the upsert half.

Layout::

    state_path/
      manifest_v00000002.json     # {"n_buckets": N, "keys": [...],
                                  #  "schema": {...}, "buckets": {"3": 2}}
      buckets/3/v_00000002/part-*.parquet   # immutable, one file

Each bucket version is exactly one Parquet file: a merge shuffles the
target ∪ batch union once, hash-partitioned by bucket, and ranks per
(bucket, keys) — the same winners as per keys, since the bucket is a
pure function of the keys — so the window adds no second exchange and
the partitioned writer gets each bucket's rows in one task. A merge
therefore runs in at most min(touched buckets, shuffle partitions)
tasks; ``n_buckets``, changed through :func:`rebucket_state`, is the
parallelism lever. Per-file and per-job costs, not rows, dominate small
merges, which is why one file per bucket pays.

The manifest carries the state's schema, so reads pass it to
``spark.read.schema`` and run no Parquet schema-inference job. A
manifest written before the schema field falls back to inference, and
its next commit backfills the schema (as with ``keys``).

No driver-side data loops: the only collected values are the touched
bucket ids (≤ n_buckets scalars — the same driver-scalar budget as the
reference's DECLARE VARIABLE high-water mark). A batch that touches no
bucket commits nothing.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

_M_RE = re.compile(r"^manifest_v(\d{8})\.json$")
_TOMBSTONE = "_tombstone"
_BUCKET = "_bucket"

DEFAULT_BUCKETS = 16


def merge_upsert(
    target: DataFrame | None,
    source: DataFrame,
    keys: Sequence[str],
    sequence_col: str,
    delete_predicate: Column | None = None,
    tie_breaker: str | None = None,
) -> DataFrame:
    """SCD1 MERGE: newest record per key wins; optional delete propagation.

    Semantics (matching DLT ``apply_changes`` with ``stored_as_scd_type=1``):
    - rows are ranked per key by (sequence DESC, source-beats-target,
      tie_breaker DESC); rank 1 is the surviving state (St2);
    - intra-batch duplicates resolve in the same window pass;
    - if ``delete_predicate`` holds on the winner, the key is dropped
      (``apply_as_deletes`` — St4). For the tombstoned variant that
      survives out-of-order deletes across merges, use
      :func:`merge_into_state`.
    """
    winners = _winners(target, source, keys, sequence_col, tie_breaker)
    if delete_predicate is not None:
        winners = winners.where(~F.coalesce(delete_predicate, F.lit(False)))
    return winners


def _winners(
    target: DataFrame | None,
    source: DataFrame,
    partition: Sequence[str],
    sequence_col: str,
    tie_breaker: str | None,
    cluster_by: str | None = None,
) -> DataFrame:
    """Rank target ∪ source per ``partition`` and keep rank 1.

    ``cluster_by`` (a column of ``partition``) hash-partitions the union
    first; the window's clustering requirement is then already met, so
    the plan has that one exchange and no other.
    """
    src = source.withColumn("_is_source", F.lit(1))
    if target is None:
        unioned = src
    else:
        unioned = target.withColumn("_is_source", F.lit(0)).unionByName(src)
    if cluster_by is not None:
        unioned = unioned.repartition(F.col(cluster_by))

    order = [F.col(sequence_col).desc(), F.col("_is_source").desc()]
    if tie_breaker:
        order.append(F.col(tie_breaker).desc())
    w = Window.partitionBy(*[F.col(c) for c in partition]).orderBy(*order)
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_is_source")
    )


# ---------------------------------------------------------------------------
# Manifest plumbing (the commit log)
# ---------------------------------------------------------------------------


def _manifest_versions(state_path: str) -> list[int]:
    if not os.path.isdir(state_path):
        return []
    out = []
    for name in os.listdir(state_path):
        m = _M_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def current_version(state_path: str) -> int | None:
    vs = _manifest_versions(state_path)
    if not vs and os.path.isdir(state_path):
        # Loud failure beats silent data loss: a state dir written by
        # the pre-manifest layout (v_XXXXXXXX dirs at the root) must not
        # be read as "empty table".
        legacy = [n for n in os.listdir(state_path) if re.match(r"^v_\d{8}$", n)]
        if legacy:
            raise ValueError(
                f"{state_path} holds a legacy un-manifested state layout "
                f"({legacy[:3]}…); migrate it by re-merging its rows into "
                "a fresh state table"
            )
    return vs[-1] if vs else None


def _read_manifest(state_path: str, version: int) -> dict:
    with open(os.path.join(state_path, f"manifest_v{version:08d}.json")) as f:
        return json.load(f)


def _bucket_dir(state_path: str, bucket: int, version: int) -> str:
    return os.path.join(state_path, "buckets", str(bucket), f"v_{version:08d}")


def _bucket_expr(keys: Sequence[str], n_buckets: int) -> Column:
    # Internal physical layout only — never surfaced in query output
    # (xxhash64 is not oracle-replicable; bucket ids don't need to be).
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def _read_buckets(
    spark: SparkSession, paths: Sequence[str], manifest: dict
) -> DataFrame:
    """Read bucket version dirs with the manifest's schema (no inference
    job); a manifest that predates the schema field falls back to
    inference, and its next commit backfills the schema."""
    stored = manifest.get("schema")
    reader = spark.read if stored is None else spark.read.schema(StructType.fromJson(stored))
    df = reader.parquet(*paths)
    if _TOMBSTONE not in df.columns:
        df = df.withColumn(_TOMBSTONE, F.lit(False))
    return df


def read_state(
    spark: SparkSession,
    state_path: str,
    version: int | None = None,
    include_tombstones: bool = False,
) -> DataFrame | None:
    """Read a state table at ``version`` (default: latest); None if empty.

    Tombstone rows (deleted keys retained for sequencing) are filtered
    out unless ``include_tombstones`` — readers see live rows only.
    """
    v = current_version(state_path) if version is None else version
    if v is None:
        return None
    manifest = _read_manifest(state_path, v)
    paths = [
        _bucket_dir(state_path, int(b), bv) for b, bv in manifest["buckets"].items()
    ]
    if not paths:
        return None
    df = _read_buckets(spark, paths, manifest)
    if include_tombstones:
        return df
    return df.where(~F.col(_TOMBSTONE)).drop(_TOMBSTONE)


def merge_into_state(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    keys: Sequence[str],
    sequence_col: str,
    delete_predicate: Column | None = None,
    tie_breaker: str | None = None,
    keep_versions: int = 2,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """One partition-pruned MERGE round against a bucketed state table.

    Reads only the buckets the batch touches, window-merges them with
    the batch in one shuffle clustered by bucket (touched data only,
    never the whole table), writes each touched bucket as a new
    immutable single-file version directory, and commits a manifest
    pointing untouched buckets at their existing files. Deletes become
    tombstones (see module doc). A batch that touches no bucket commits
    nothing. Returns the live state.

    ``n_buckets`` is fixed at state creation (persisted in the
    manifest); later calls inherit it.
    """
    prev_v = current_version(state_path)
    if prev_v is not None:
        manifest = _read_manifest(state_path, prev_v)
        n_buckets = int(manifest["n_buckets"])
        prev_buckets: dict[str, int] = dict(manifest["buckets"])
        _check_keys(manifest, keys, state_path)
    else:
        manifest, prev_buckets = {}, {}

    tomb = (
        F.coalesce(delete_predicate, F.lit(False))
        if delete_predicate is not None
        else F.lit(False)
    )
    bexpr = _bucket_expr(keys, n_buckets)
    batch2 = batch.withColumn(_TOMBSTONE, tomb).withColumn(_BUCKET, bexpr)

    # Driver-side scalars: which buckets does this batch touch?
    touched = sorted(
        r[0] for r in batch2.select(_BUCKET).distinct().collect() if r[0] is not None
    )
    if not touched:
        return read_state(spark, state_path)
    touched_paths = [
        _bucket_dir(state_path, b, prev_buckets[str(b)])
        for b in touched
        if str(b) in prev_buckets
    ]
    if touched_paths:
        target = _read_buckets(spark, touched_paths, manifest).withColumn(_BUCKET, bexpr)
    else:
        target = None

    # Tombstones ride through the window as ordinary rows: a stored
    # tombstone beats an older-sequence late upsert; a newer upsert
    # legitimately resurrects the key. The bucket is a pure function of
    # the keys, so ranking per (bucket, keys) picks the same winners as
    # per keys, while the shuffle clusters each bucket into one task.
    merged = _winners(
        target, batch2, [_BUCKET, *keys], sequence_col, tie_breaker, cluster_by=_BUCKET
    )
    _write_staged(
        merged, state_path, (prev_v or 0) + 1, n_buckets, keys,
        base_buckets=prev_buckets, touched=touched, keep_versions=keep_versions,
    )
    return read_state(spark, state_path)


def _check_keys(manifest: dict, keys: Sequence[str], state_path: str) -> None:
    """The bucket id is a pure function of (keys, n_buckets); merging or
    rebucketing with different keys scatters rows into buckets the next
    merge will never read — silent state corruption. Manifests persist
    the keys at creation; pre-keys manifests (legacy) are accepted and
    backfilled at the next commit."""
    stored = manifest.get("keys")
    if stored is not None and list(stored) != list(keys):
        raise ValueError(
            f"state at {state_path} is bucketed by keys {stored}, "
            f"got {list(keys)} — a mixed-key merge would corrupt it"
        )


def _write_staged(
    df: DataFrame,
    state_path: str,
    next_v: int,
    n_buckets: int,
    keys: Sequence[str],
    base_buckets: dict[str, int],
    touched: Sequence[int] | None,
    keep_versions: int,
) -> None:
    """Write ``df`` (already clustered by ``_BUCKET``, so each bucket
    arrives in one task and lands as one file) partitioned by bucket
    into a staging dir, then promote it atomically: move each staged
    bucket dir to its versioned home, commit the manifest (the atomic
    point), vacuum. ``touched`` limits which bucket pointers may change
    (incremental merge); None promotes every staged bucket and starts
    from ``base_buckets`` as given (rebucket passes {})."""
    staging = os.path.join(state_path, f"_staging_v{next_v:08d}")
    df.write.mode("overwrite").partitionBy(_BUCKET).parquet(staging)
    # nullable, as a file read returns it, so the stored schema does not
    # flip between commits of fresh and re-read rows
    schema = StructType([
        StructField(f.name, f.dataType, True, f.metadata)
        for f in df.schema.fields if f.name != _BUCKET
    ])
    staged: dict[int, str] = {}
    for name in os.listdir(staging):
        m = re.match(rf"^{_BUCKET}=(\d+)$", name)
        if m:
            staged[int(m.group(1))] = os.path.join(staging, name)
    new_buckets = dict(base_buckets)
    for b in sorted(staged) if touched is None else touched:
        src = staged.get(b)
        dst = _bucket_dir(state_path, b, next_v)
        if src is not None and os.path.isdir(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            # A crash between bucket moves and the manifest commit can
            # leave an orphaned v_{next_v} dir; no manifest references
            # it (the commit below is the atomic point), so clobber it —
            # otherwise shutil.move would nest the new files INSIDE it
            # and the committed manifest would read stale + new rows.
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            shutil.move(src, dst)
            new_buckets[str(b)] = next_v
        else:
            # every row of this bucket vanished (possible only in
            # tombstone-free direct writes); drop the pointer
            new_buckets.pop(str(b), None)
    shutil.rmtree(staging, ignore_errors=True)

    manifest_out = {
        "n_buckets": n_buckets,
        "keys": list(keys),
        "schema": schema.jsonValue(),
        "buckets": new_buckets,
    }
    tmp = os.path.join(state_path, f"_manifest_v{next_v:08d}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest_out, f)
    os.replace(tmp, os.path.join(state_path, f"manifest_v{next_v:08d}.json"))

    _vacuum(state_path, keep_versions)


def _vacuum(state_path: str, keep_versions: int) -> None:
    """Drop manifests beyond ``keep_versions`` and any bucket version
    directory no retained manifest references (Delta VACUUM)."""
    versions = _manifest_versions(state_path)
    retained, dropped = versions[-keep_versions:], versions[:-keep_versions]
    referenced: set[tuple[str, int]] = set()
    for v in retained:
        for b, bv in _read_manifest(state_path, v)["buckets"].items():
            referenced.add((b, bv))
    buckets_root = os.path.join(state_path, "buckets")
    if os.path.isdir(buckets_root):
        for b in os.listdir(buckets_root):
            bdir = os.path.join(buckets_root, b)
            for vname in os.listdir(bdir):
                m = re.match(r"^v_(\d{8})$", vname)
                if m and (b, int(m.group(1))) not in referenced:
                    shutil.rmtree(os.path.join(bdir, vname), ignore_errors=True)
    for v in dropped:
        try:
            os.remove(os.path.join(state_path, f"manifest_v{v:08d}.json"))
        except OSError:
            pass


def rebucket_state(
    spark: SparkSession,
    state_path: str,
    keys: Sequence[str],
    n_buckets_new: int,
    keep_versions: int = 2,
) -> DataFrame:
    """OPTIMIZE-style maintenance: rewrite the state table into a new
    bucket count and commit it as one manifest version.

    ``n_buckets`` is frozen at state creation because the bucket id is a
    pure function of (keys, n_buckets) — incremental merges depend on
    it. But a bucket layout sized for year-1 data eventually outgrows
    its executors (a single bucket must fit a window-merge), so the
    scale story needs exactly what Delta gets from OPTIMIZE: a full
    rewrite under a new layout, atomic at the manifest commit, with
    readers of the previous version unaffected until then. Reads the
    state ONCE including tombstones (they must survive rebucketing or
    the delete/sequencing contract breaks), writes every new bucket,
    then swings the manifest; ongoing incremental merges pick up the new
    ``n_buckets`` from it.
    """
    prev_v = current_version(state_path)
    if prev_v is None:
        raise ValueError(f"no state at {state_path} to rebucket")
    if n_buckets_new < 1:
        raise ValueError(f"n_buckets_new must be >= 1, got {n_buckets_new}")
    _check_keys(_read_manifest(state_path, prev_v), keys, state_path)
    full = read_state(spark, state_path, include_tombstones=True)
    staged = full.withColumn(_BUCKET, _bucket_expr(keys, n_buckets_new))
    _write_staged(
        staged.repartition(F.col(_BUCKET)), state_path, prev_v + 1, n_buckets_new, keys,
        base_buckets={}, touched=None, keep_versions=keep_versions,
    )
    return read_state(spark, state_path)
