"""The on-disk parquet state directories of the stateful streams.

Every stateful stream owner (the dedup/ANN/BM25/Bradley-Terry/bloom
indexes, :class:`IdempotentParquetSink`, the retry table, and the
firehose/app output dirs) keeps its state as parquet directories on the
driver's filesystem.  This module owns the four rules those directories
follow, so each decision has one code path:

1. **Presence means what Spark lists.**  :func:`has_parquet` is true iff
   ``spark.read.parquet(d)`` would list a data file: it walks
   subdirectories and prunes what Spark's file index hides — names
   starting with ``_`` or ``.`` (except ``name=value`` partition dirs)
   and in-flight ``._COPYING_`` files.  A crash-left ``_temporary/``
   therefore reads as "no state yet", not as a directory Spark cannot
   infer a schema from; heal-on-open deletes it (below).
2. **The batch key.**  :func:`batch_key` is ``bit_xor(xxhash64(id))``
   over a batch's DISTINCT ids (``None`` for an empty batch): order-free,
   reproduced exactly by a re-delivery, and immune to the duplicate-row
   cancellation a raw-row XOR suffers.
3. **Keyed append.**  :func:`append_once` lands a batch's rows under a
   ``__batch_key=<key>`` partition dir and skips the append when that
   dir already exists (:func:`landed`) — the landed-check for a
   re-delivered batch is a directory-name lookup, never a data scan.
4. **Compaction keeps the layout.**  A keyed directory compacts into ONE
   ``__batch_key=`` partition (:func:`keyed_writer`), a flat one stays
   flat: next to partition dirs, Spark silently skips top-level files.
   Compactions publish through :func:`swap_publish`.

The naive compact — write merged data to ``tmp``, ``rename(live, old)``,
``rename(tmp, live)``, ``rmtree(old)`` — has a window between the two
renames where the live directory does not exist.  A crash there, plus a
restart whose ``makedirs(exist_ok=True)`` recreates the directory
empty, silently loses the whole index while the data sits intact in the
orphaned ``old`` dir.

``swap_publish`` performs the swap; ``recover_interrupted_swap`` is the
heal-on-open every owner runs on each of its state dirs before any
writer starts.  It first deletes a crashed append's ``_temporary/``:
Hadoop's file committer merges every ``_temporary/0/task_*`` dir it
finds at job commit, stale ones included, so a left-over task dir would
publish its rows again with the next append.  Then it heals every swap
crash state:

- live dir has data              → any ``-compact-*`` / ``-old-*``
  orphans are leftovers of a completed or aborted run; delete them.
- live dir missing/empty, a COMPLETE ``-compact-*`` exists (Spark's
  ``_SUCCESS`` marker) → the merge finished but publishing didn't:
  promote it.
- live dir missing/empty, only ``-old-*`` exists → crashed before the
  tmp write completed *and* after the first rename cannot happen in
  one run (tmp is written first), but a partial tmp plus a complete
  old can: restore the old dir.

Completeness = the ``_SUCCESS`` marker Spark writes after a successful
job commit — a partially-written directory is never promoted.

Callers use this module through its attributes (``dirswap.swap_publish``)
so a wrapper installed on the module sees every call.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

BATCH_KEY_COL = "__batch_key"


def _listed(name: str) -> bool:
    """Spark's file-index filter (``HadoopFSUtils.shouldFilterOutPathName``)."""
    if name.startswith(".") or name.endswith("._COPYING_"):
        return False
    return not name.startswith("_") or "=" in name


def parquet_files(d: str) -> Iterator[str]:
    """The parquet data files ``spark.read.parquet(d)`` would list."""
    for root, dirs, files in os.walk(d):
        dirs[:] = [x for x in dirs if _listed(x)]
        for f in files:
            if f.endswith(".parquet") and _listed(f):
                yield os.path.join(root, f)


def has_parquet(d: str) -> bool:
    """True iff ``d`` holds state Spark can read (stops at the first
    data file found)."""
    return next(parquet_files(d), None) is not None


def batch_key(df: DataFrame, id_col: str) -> int | None:
    """Deterministic batch identity: ``bit_xor(xxhash64(id))`` over the
    DISTINCT ids of ``df`` — one driver-side scalar; ``None`` when empty."""
    return (
        df.select(id_col)
        .distinct()
        .agg(F.expr(f"bit_xor(xxhash64({id_col}))"))
        .first()[0]
    )


def keyed_writer(df: DataFrame, key: int) -> DataFrameWriter:
    """``df``'s writer into the ``__batch_key=<key>`` partition."""
    return (
        df.withColumn(BATCH_KEY_COL, F.lit(int(key)).cast("long"))
        .write.partitionBy(BATCH_KEY_COL)
    )


def landed(d: str, key: int) -> bool:
    """Has the batch keyed ``key`` already been appended to ``d``?"""
    return os.path.isdir(os.path.join(d, f"{BATCH_KEY_COL}={key}"))


def append_once(df: DataFrame, d: str, key: int) -> None:
    """Append ``df`` to ``d`` under ``__batch_key=<key>`` unless that
    partition already landed."""
    if not landed(d, key):
        keyed_writer(df, key).mode("append").parquet(d)


def _complete(d: str) -> bool:
    return os.path.isdir(d) and os.path.exists(os.path.join(d, "_SUCCESS"))


def swap_publish(live_dir: str, write_tmp: Callable[[str], None]) -> None:
    """Write merged state via ``write_tmp(tmp_path)`` then atomically-ish
    swap it into ``live_dir``.  Call ``recover_interrupted_swap`` on
    startup to heal any crash window."""
    token = uuid.uuid4().hex[:8]
    tmp = f"{live_dir}-compact-{token}"
    write_tmp(tmp)
    if not os.path.isdir(live_dir):
        # first publish: nothing to retire
        os.rename(tmp, live_dir)
        return
    old = f"{live_dir}-old-{token}"
    os.rename(live_dir, old)
    os.rename(tmp, live_dir)
    shutil.rmtree(old)


def recover_interrupted_swap(live_dir: str) -> str | None:
    """Heal an interrupted ``swap_publish``.  Returns the path the live
    dir was restored from, or None if no recovery was needed.  Also
    deletes the live dir's ``_temporary/``, so call it only while no
    writer appends to ``live_dir``."""
    shutil.rmtree(os.path.join(live_dir, "_temporary"), ignore_errors=True)
    tmps = sorted(glob.glob(f"{live_dir}-compact-*"))
    olds = sorted(glob.glob(f"{live_dir}-old-*"))
    if has_parquet(live_dir):
        for d in tmps + olds:
            shutil.rmtree(d, ignore_errors=True)
        return None
    src = next((d for d in tmps if _complete(d)), None) or next(
        (d for d in olds if _complete(d)), None
    )
    if src is None:
        # nothing recoverable (fresh index, or only partial orphans)
        for d in tmps:
            shutil.rmtree(d, ignore_errors=True)
        return None
    if os.path.isdir(live_dir):
        os.rmdir(live_dir)  # empty placeholder from makedirs
    os.rename(src, live_dir)
    for d in tmps + olds:
        if d != src:
            shutil.rmtree(d, ignore_errors=True)
    return src
