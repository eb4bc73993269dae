"""Table maintenance: small-file compaction.

Every append-mode sink (results, lineage, metrics) accretes one file
set per run; after thousands of incremental runs the scan cost is
dominated by file-open overhead, not bytes — the classic small-file
problem Iceberg solves with ``rewrite_data_files``.  This is the
parquet-store equivalent: read, repartition to ~target-sized files,
atomic staging swap (``swap_in``, which the checkpoint log's compaction
uses too — a crash leaves the previous table intact).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def _dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet dir tree."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def swap_in(df: DataFrame, path: str) -> None:
    """Replace the table at ``path`` with ``df``: a staging write to
    ``.compacting``, then two renames through a ``.old`` backup.  A
    crash at any point leaves a state ``recover_compaction`` mends."""
    path = path.rstrip("/")
    staging, backup = path + ".compacting", path + ".old"
    df.write.mode("overwrite").parquet(staging)
    if os.path.isdir(path):
        os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup, ignore_errors=True)


def recover_compaction(path: str) -> None:
    """Finish a ``swap_in`` a crash interrupted: a ``.old`` beside a
    MISSING table means the crash hit between the two renames — restore
    it; beside a live table the new data already committed — drop the
    stale backup.  Called on compaction entry AND by the results and
    checkpoint read paths, so a crashed compaction can never surface as
    an empty table."""
    backup = path.rstrip("/") + ".old"
    if os.path.isdir(backup):
        if not os.path.isdir(path):
            os.rename(backup, path)
        else:
            shutil.rmtree(backup)
    staging = path.rstrip("/") + ".compacting"
    if os.path.isdir(staging):          # incomplete staging write
        shutil.rmtree(staging)


def compact_parquet(spark: SparkSession, path: str,
                    target_file_bytes: int = 128 << 20) -> dict:
    """Rewrite ``path`` into ceil(total/target) files; returns
    {files_before, files_after, bytes}.  No-op (no rewrite at all) when
    the table already has the target file count — compaction must be
    safe to run on a schedule."""
    recover_compaction(path)
    files_before, total = _dir_stats(path)
    n_target = max(1, -(-total // target_file_bytes))
    if files_before <= n_target:
        return {"files_before": files_before,
                "files_after": files_before, "bytes": total,
                "compacted": False}
    swap_in(spark.read.parquet(path).repartition(n_target), path)
    files_after, _ = _dir_stats(path)
    return {"files_before": files_before, "files_after": files_after,
            "bytes": total, "compacted": True}
