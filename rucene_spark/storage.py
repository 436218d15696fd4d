"""Commit-protocol storage primitives — the one seam between the engine
and the filesystem.

Every index mutation (segment publish, done-marker, manifest swap,
tombstone append, GC) goes through the primitives below; nothing else in
the package touches ``os``/``shutil`` for commit-critical state. Porting
the engine to an object store is therefore a backend swap of THIS module,
not a rewrite — each primitive documents its object-store implementation
(see also README "Storage & commit protocol").

The local backend keeps the exact POSIX semantics the test suite proves:

* ``atomic_write_text``   — write tmp name, ``os.replace`` to final.
  S3/GCS: a single PUT of a small object is already atomic
  (read-after-write consistent on current S3); no tmp step needed.
* ``publish_dir``         — stage a directory under a temp name, swap it
  into place. S3: write objects under the final prefix directly — the
  prefix stays invisible because readers only follow the MANIFEST's dir
  list (``read_seg_table`` never lists directories), so "swap" is a no-op
  and atomicity comes from the manifest PUT.
* ``rename_file``         — S3: copy+delete (tombstone-file consolidation
  is the only user; files are small).
* ``listdir``/``remove_dir`` — S3: prefix listing / batched deletes; used
  only by GC and tombstone maintenance, never on the read path.

Big data (postings/docmeta parquet written by Spark jobs) flows through
Spark's own Hadoop filesystem connectors and is object-store-ready as-is;
``write_parquet`` below covers only the executor-local pyarrow writes of
the per-partition segment builder.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.parquet as pq


def makedirs(path: str) -> None:
    os.makedirs(path, exist_ok=True)


def exists(path: str) -> bool:
    return os.path.exists(path)


def is_dir(path: str) -> bool:
    return os.path.isdir(path)


def listdir(path: str) -> list[str]:
    return os.listdir(path)


def read_text(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def atomic_write_text(path: str, text: str) -> None:
    """Publish a small control object (marker / manifest) atomically."""
    makedirs(os.path.dirname(path) or ".")
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def publish_dir(write_fn, final_dir: str) -> None:
    """Stage a directory's contents (``write_fn(tmp_dir)``), then swap it
    to ``final_dir`` atomically; an existing dir is superseded."""
    tmp = f"{final_dir}.tmp-{uuid.uuid4().hex[:8]}"
    makedirs(tmp)
    write_fn(tmp)
    if os.path.exists(final_dir):
        shutil.rmtree(final_dir)
    os.replace(tmp, final_dir)


def rename_file(src: str, dst: str) -> None:
    os.replace(src, dst)


def remove_file(path: str) -> None:
    """S3: single DELETE. Used by tombstone/overlay consolidation only."""
    if os.path.exists(path):
        os.remove(path)


def remove_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def file_size(path: str) -> int:
    return os.path.getsize(path)


def dir_size(path: str) -> int:
    """Total bytes under a directory (one level — segment dirs are flat).
    S3: sum of sizes from the prefix listing."""
    if not os.path.isdir(path):
        return 0
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        if os.path.isfile(os.path.join(path, f)))


def write_parquet(table, path: str, **kwargs) -> None:
    pq.write_table(table, path, **kwargs)


def read_parquet(path: str, columns: list[str] | None = None):
    """Read a parquet file or directory → pyarrow Table. The executor-side
    mirror of ``write_parquet`` (merge tasks read their segment's staged
    delete slice through this seam, never raw POSIX paths)."""
    return pq.read_table(path, columns=columns)


def parquet_num_rows(path: str) -> int:
    """Row count from parquet FOOTER metadata only — no data pages read.
    S3: one ranged GET of the footer. The package no longer calls it;
    ``perfbench/workloads.py`` counts tombstone rows with it."""
    return pq.ParquetFile(path).metadata.num_rows
