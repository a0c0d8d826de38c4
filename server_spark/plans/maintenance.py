"""Table maintenance: small-file compaction (SURVEY.md §1.4 storage
posture). Append-heavy layers (manifest-gated bronze, gold history
appends) accumulate one file per micro-batch per partition; thousands
of tiny parquet files turn every downstream scan into a listing +
footer-read storm. Compaction rewrites fragmented partitions into
~target-sized files.

Scale notes:
- Work is proportional to the FRAGMENTED partitions only — the file
  index is consulted first and partitions already at target are left
  untouched (never a full-table rewrite).
- Each partition rewrite is read → repartition(ceil(bytes/target)) →
  write-to-scratch + two-rename swap. Scratch dirs are dot-prefixed
  (``.compact_tmp__*``) so Spark's file index never lists them as
  data or parses them as partition values. The swap itself is
  SINGLE-WRITER / NO-CONCURRENT-READER: between the two renames a
  reader can observe a missing partition, and a crash there needs the
  entry-time recovery sweep (stale scratch dirs are finished or
  removed on the next run). True reader-safe compaction needs a
  commit protocol — Delta/Iceberg OPTIMIZE; this is the raw-parquet
  analog for maintenance windows.
- Compaction is idempotent and safe to re-run: a compacted partition
  no longer qualifies as fragmented, and interrupted runs are healed
  on entry.
- OBJECT-STORE roots: this module's rename/walk machinery rejects
  URI paths loudly (see ``_require_local``); buckets cannot rename.
- Gold tables are not committed here: they have ONE commit protocol,
  medallion's (manifest scope, partitioned dynamic overwrite under
  ``commit_lock``). This module only compacts.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession


def _require_local(path: str, what: str) -> str:
    """This whole module is POSIX machinery — rename swaps and os.walk
    listings. With object-store roots reachable through the commit
    backend (plans/commit_backend), a URI path arriving HERE must fail
    loudly: os.walk over a bucket URI silently yields nothing, so a
    compaction would report the table clean. The object-store answer
    for this layer stays a transactional table format, not these
    primitives. Delegates to the repo's ONE scheme gate
    (plans.commit_backend.local_path), which also NORMALIZES ``file:``
    URIs — callers must use the returned path, or a 'file:/tmp/...'
    spelling would sail past the bucket check and still no-op in
    os.walk."""
    from server_spark.plans.commit_backend import local_path

    return local_path(path, what)


def partition_file_stats(root: str) -> dict[str, tuple[int, int]]:
    """{leaf partition dir → (n_data_files, total_bytes)} for a
    (possibly nested) partitioned parquet dataset."""
    root = _require_local(root, "partition_file_stats")
    stats: dict[str, tuple[int, int]] = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        data = [
            f for f in filenames
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        if data:
            total = sum(os.path.getsize(os.path.join(dirpath, f)) for f in data)
            stats[dirpath] = (len(data), total)
    return stats


_TMP_PREFIX = ".compact_tmp__"
_OLD_PREFIX = ".compact_old__"


def _scratch(part_dir: str, prefix: str) -> str:
    """Scratch sibling of ``part_dir`` with a dot-prefixed basename —
    Spark's file index skips dot/underscore-leading names, so readers
    never list scratch data or parse it as a partition value."""
    head, base = os.path.split(part_dir)
    return os.path.join(head, prefix + base)


def _heal_interrupted(root: str) -> None:
    """Recover from a crash mid-swap (idempotent, run on entry).

    Crash points and their fix:
    - before the first rename: stale tmp (partial or complete) →
      remove; live partition untouched.
    - between the renames: partition dir missing, old complete →
      remove tmp, rename old back (compaction simply redoes it).
    - after the second rename: partition is compacted, old remains →
      remove old.
    """
    for dirpath, dirnames, _files in os.walk(root):
        for d in list(dirnames):
            if d.startswith(_TMP_PREFIX):
                shutil.rmtree(os.path.join(dirpath, d))
                dirnames.remove(d)
        for d in list(dirnames):
            if d.startswith(_OLD_PREFIX):
                old = os.path.join(dirpath, d)
                live = os.path.join(dirpath, d[len(_OLD_PREFIX):])
                if os.path.exists(live):
                    shutil.rmtree(old)
                else:
                    os.rename(old, live)
                dirnames.remove(d)


def compact_partitions(
    spark: SparkSession,
    root: str,
    target_bytes: int = 256 * 1024 * 1024,
    min_files: int = 4,
    verify: bool = False,
) -> int:
    """Rewrite every leaf partition holding ≥ ``min_files`` data files
    into ceil(bytes/target) files. Returns partitions rewritten.

    Single-writer; concurrent readers may see a partition vanish for
    the instant between the two swap renames (see module docstring).
    """
    _heal_interrupted(root)
    rewritten = 0
    for part_dir, (n_files, total) in partition_file_stats(root).items():
        if n_files < min_files:
            continue
        n_out = max(1, math.ceil(total / target_bytes))
        if n_out >= n_files:
            continue
        df = spark.read.parquet(part_dir)
        tmp = _scratch(part_dir, _TMP_PREFIX)
        df.repartition(n_out).write.mode("overwrite").parquet(tmp)
        if verify:
            # verify BEFORE the swap: a bad rewrite (codec bug, lost
            # task output) must never replace good data
            before = df.count()
            after = spark.read.parquet(tmp).count()
            if after != before:
                shutil.rmtree(tmp)
                raise RuntimeError(
                    f"compaction verification failed for {part_dir}: "
                    f"{before} rows -> {after}"
                )
        old = _scratch(part_dir, _OLD_PREFIX)
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
        rewritten += 1
    return rewritten
