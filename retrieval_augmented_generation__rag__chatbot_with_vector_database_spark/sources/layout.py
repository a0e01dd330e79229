"""The single write path for partitioned parquet layouts.

Every persisted layout in this package that is a parquet table
partitioned on one column — the id-bucketed vector index
(``sources.index_table``), the IVF / IVFPQ layouts (``operators.ann``,
``operators.pq``), the lexical index's postings / termdf / docs tables
(``sources.lexical_index``) and the ``batch_id``-partitioned streaming
tables (near-dup buckets, line occurrences, the crawl frontier) — is
maintained incrementally by rewriting only its *touched* partition
directories. Three functions here are that write path:

- :func:`rewrite_partitions` writes a frame of the touched partitions'
  new rows to a staging dir and swaps those partitions in (or renames
  the staging dir into place when the layout does not exist yet);
- :func:`delete_keys` removes rows by key: one collect finds the
  partitions holding the victims and the rows removed, then an
  anti-join rewrites only those partitions;
- :func:`merge_keys` upserts rows by key: touched = partitions of the
  new rows ∪ partitions holding old versions of their keys, rewritten
  as surviving rows ∪ new rows.

The swap itself is the dangerous window: a crash between deleting the
live partition and moving the new one in leaves a missing-or-mixed
layout that a plain reader would silently serve. The protocol makes a
torn swap *detectable* and *recoverable*:

1. create a ``_swap_inprogress.json`` marker (the fence) listing the
   touched partitions and the staging dir;
2. per partition: rename the live dir aside to ``_old_<part>``
   (underscore prefix → invisible to Spark's file scanner), rename
   the new dir in, delete the aside — each step an atomic rename on
   the same filesystem;
3. delete the staging dir, then the marker.

Readers call :func:`check_not_torn` first; a surviving marker means
the swap died mid-flight, and the error message points at the aside
dirs that still hold the pre-swap data.

Contract for concurrent and crashing writers:

- **Unique staging**: each rewrite stages into its own
  ``<path>._tmp-<uuid4 hex>`` sibling, so two writers never write
  into each other's staging files; the marker records which staging
  dir a torn swap came from.
- **Exclusive fence**: the marker is created with ``open(..., "x")``,
  so a second writer whose swap overlaps a live one (or a leftover
  torn marker) fails with ``FileExistsError`` before it renames any
  live dir.
- **Atomic sidecars**: JSON sidecars next to a layout are written with
  :func:`write_json` (unique tmp file, then ``os.replace``), so a
  crash leaves either the old or the new sidecar, never a truncated
  one.

On an object store swap the rename-aside for a manifest-commit (write
new files, then atomically flip a manifest pointer — the Iceberg/Delta
pattern); the marker discipline is the same.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SWAP_MARKER = "_swap_inprogress.json"


def marker_path_for(data_path: str) -> str:
    """Default marker location: inside the partitioned table dir
    (underscore prefix keeps it invisible to Spark)."""
    return os.path.join(data_path, SWAP_MARKER)


def check_not_torn(data_path: str, marker_path: str | None = None) -> None:
    """Raise loudly if a previous swap died mid-flight."""
    mp = marker_path or marker_path_for(data_path)
    if os.path.exists(mp):
        with open(mp) as f:
            marker = json.load(f)
        raise RuntimeError(
            f"layout at {data_path} has a torn partition swap (marker "
            f"{os.path.basename(mp)} present, touched partitions "
            f"{marker.get('partitions')}); pre-swap data is preserved in "
            f"'_old_<partition>' aside dirs — recover manually, then "
            f"delete the marker"
        )


def write_json(path: str, obj) -> None:
    """Atomically replace the JSON sidecar at ``path`` with ``obj``."""
    tmp = f"{path}._tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def swap_partition_dirs(
    data_path: str,
    tmp_path: str,
    partitions: list[str],
    marker_path: str | None = None,
) -> None:
    """Swap ``partitions`` (dir names like ``bucket=3``) from
    ``tmp_path`` into ``data_path`` under the marker fence described in
    the module doc. Partitions present in ``partitions`` but absent
    from ``tmp_path`` are treated as deletions of the live dir (the
    merge produced no rows for them)."""
    mp = marker_path or marker_path_for(data_path)
    with open(mp, "x") as f:
        json.dump({"partitions": partitions, "tmp": tmp_path}, f)
    for part in partitions:
        src = os.path.join(tmp_path, part)
        dst = os.path.join(data_path, part)
        old = os.path.join(data_path, f"_old_{part}")
        if os.path.exists(old):  # stale aside from a recovered run
            shutil.rmtree(old)
        if os.path.exists(dst):
            os.rename(dst, old)
        if os.path.exists(src):
            os.rename(src, dst)
        if os.path.exists(old):
            shutil.rmtree(old)
    shutil.rmtree(tmp_path)
    os.remove(mp)


def rewrite_partitions(
    rows: DataFrame,
    path: str,
    part_col: str,
    touched: list,
    marker_path: str | None = None,
) -> None:
    """Replace the ``touched`` partitions of the layout at ``path`` with
    ``rows`` (which must hold every row those partitions keep; a
    touched partition with no rows disappears). One task per touched
    partition → one file per partition. A layout that does not exist
    yet is created by renaming the staging dir into place."""
    staging = f"{path.rstrip('/')}._tmp-{uuid.uuid4().hex}"
    try:
        (
            rows.repartition(max(len(touched), 1), part_col)
            .write.partitionBy(part_col)
            .parquet(staging)
        )
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if not os.path.exists(path):
        os.rename(staging, path)
        return
    swap_partition_dirs(
        path, staging, [f"{part_col}={p}" for p in touched], marker_path
    )


def delete_keys(
    layout: DataFrame,
    path: str,
    part_col: str,
    victims: DataFrame,
    key_col: str,
) -> tuple[list, int]:
    """Delete every row of ``layout`` (the table read from ``path``)
    whose ``key_col`` value appears in ``victims``. One collect returns the
    per-partition hit counts — the touched partitions and the number
    of rows deleted — then only those partitions are rewritten as the
    anti-join of their rows with the victims. Absent keys are a no-op.
    Returns ``(touched, n_deleted)``."""
    victims = victims.select(key_col).distinct().localCheckpoint(eager=True)
    hits = (
        layout.join(F.broadcast(victims), key_col)
        .groupBy(part_col)
        .agg(F.count("*").alias("n"))
        .collect()
    )
    touched = sorted(r[part_col] for r in hits)
    if touched:
        kept = layout.filter(F.col(part_col).isin(touched)).join(
            F.broadcast(victims), key_col, "left_anti"
        )
        rewrite_partitions(kept, path, part_col, touched)
    return touched, int(sum(r["n"] for r in hits))


def merge_keys(
    layout: DataFrame,
    path: str,
    part_col: str,
    fresh: DataFrame,
    key_col: str,
) -> list:
    """Upsert ``fresh`` (one row per key) into ``layout`` (the table
    read from ``path``): touched = partitions of the new rows ∪
    partitions holding old versions of their keys; those are rewritten
    as surviving rows (anti-join on the key) ∪ ``fresh``. Returns the
    sorted touched partition values."""
    keys = fresh.select(key_col).distinct()
    new_parts = {r[0] for r in fresh.select(part_col).distinct().collect()}
    old_parts = {
        r[0]
        for r in layout.join(F.broadcast(keys), key_col)
        .select(part_col)
        .distinct()
        .collect()
    }
    touched = sorted(new_parts | old_parts)
    survivors = layout.filter(F.col(part_col).isin(touched)).join(
        F.broadcast(keys), key_col, "left_anti"
    )
    rewrite_partitions(
        survivors.unionByName(fresh.select(*survivors.columns)),
        path,
        part_col,
        touched,
    )
    return touched
