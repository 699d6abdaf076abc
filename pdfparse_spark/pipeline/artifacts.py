"""The one lifecycle of every persisted artifact — Bloom/IVF-PQ/decon/
conversation indexes, the DSIR and LR models — and of every
``foreachBatch`` stream face.

An artifact is a directory of parquet tables (``words``, ``vectors``,
``lm``, ``chains``, …) plus a one-row ``meta`` table.  Four decisions
live here and nowhere else:

- **Tagged meta.**  :func:`write_meta` stores the artifact's parameters;
  :func:`read_meta` reads them back and, given ``tag``, refuses an
  artifact written under another convention (``feat_tag``) — scoring or
  probing with a mismatched feature space / hash convention is silently
  wrong on every row, so it must fail loudly instead.  Every later
  operation takes its parameters from the STORED meta, never from the
  caller.
- **Table swap.**  :func:`replace_table` writes a table as a fresh
  versioned sibling dir (``<name>.v<N>``) and repoints the canonical
  ``<dir>/<name>`` symlink with one ``os.replace`` — readers see the old
  table or the new one, never a missing or half-written one, and a crash
  before the swap leaves the previous version in place.  Every overwrite
  of an artifact table goes through it: a plain ``mode("overwrite")``
  on the link path would replace the link with a real dir.  In-place
  appends (``mode("append")``, dynamic partition overwrite) work through
  the link.  Only local paths (bare or ``file:``) can be swapped this
  way; any other URI scheme is refused before anything is written (on a
  lakehouse the swap is one Iceberg/Delta commit instead).
- **Stream face.**  :func:`start_batch_stream` runs ``batch_fn`` per
  micro-batch of a parquet file-source stream.  Replay stability is the
  batch function's contract: it writes only ``overwrite``-idempotent
  outputs keyed by ``batch_id`` (:func:`write_batch`), so a batch
  replayed after a crash rewrites its own ``batch=<id>`` dir with the
  same rows; :func:`read_batches` reads the union back.
- **Scoped checkpoints.**  :func:`checkpoint` is an eager
  ``localCheckpoint``; inside :func:`checkpoint_scope` it is released
  when the scope exits.  ``Dataset.unpersist()`` is a no-op for these
  RDD-level blocks, so the scope unpersists exactly the RDDs it
  checkpointed — never a diff of the session's persisted set, which
  would also evict RDDs a concurrent job persisted meanwhile.  Each
  stream micro-batch runs in its own scope.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "write_meta",
    "read_meta",
    "local_path",
    "replace_table",
    "start_batch_stream",
    "write_batch",
    "read_batches",
    "checkpoint",
    "checkpoint_scope",
    "release",
]


def write_meta(spark: SparkSession, art_dir: str, schema: str, row: tuple) -> None:
    """Store the artifact's one-row ``meta`` table (DDL ``schema``)."""
    replace_table(spark.createDataFrame([row], schema).coalesce(1), art_dir + "/meta")


def read_meta(spark: SparkSession, art_dir: str, tag: str | None = None):
    """The stored meta row.  With ``tag``, raise ``ValueError`` unless the
    artifact's ``feat_tag`` equals it."""
    meta = spark.read.parquet(art_dir + "/meta").collect()[0]
    if tag is not None and meta["feat_tag"] != tag:
        raise ValueError(
            "artifact at %r was written under %r, this build uses %r: its "
            "feature space or hash-chain convention differs, so applying it "
            "would be silently wrong — rebuild it" % (art_dir, meta["feat_tag"], tag)
        )
    return meta


def local_path(path: str) -> str:
    """The local filesystem path behind ``path``; ``ValueError`` for any
    URI scheme but ``file:`` (the swap is an OS rename)."""
    if path.startswith("file:"):
        return urlparse(path).path
    m = re.match(r"([A-Za-z][A-Za-z0-9+.-]*)://", path)
    if m:
        raise ValueError(
            "%r: only local paths can be swapped atomically; %s:// is not "
            "supported" % (path, m.group(1))
        )
    return path


def _versions(parent: str, name: str) -> list[int]:
    pat = re.compile(re.escape(name) + r"\.v(\d+)$")
    return sorted(
        int(m.group(1))
        for m in map(pat.match, os.listdir(parent) if os.path.isdir(parent) else [])
        if m
    )


def _swap(parent: str, name: str, target: str) -> None:
    """Point ``parent/name`` at ``target`` (a sibling) in one rename."""
    canon = os.path.join(parent, name)
    if os.path.isdir(canon) and not os.path.islink(canon):
        # a plain dir (an artifact written before tables were versioned):
        # park it as version 0 behind a link once — the only step with a
        # brief window where the canonical path is missing
        parked = os.path.join(parent, name + ".v0")
        shutil.rmtree(parked, ignore_errors=True)
        os.rename(canon, parked)
        os.symlink(name + ".v0", canon)
    tmp = os.path.join(parent, "." + name + ".link")
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(target, tmp)  # relative: the artifact dir stays movable
    os.replace(tmp, canon)


def replace_table(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Write ``df`` as the table at ``path``, atomically replacing any
    previous version (see the module docstring).  ``df`` may read the
    table it replaces: the new version is staged in its own dir."""
    parent, name = os.path.split(local_path(path).rstrip("/"))
    versions = _versions(parent, name)
    new = "%s.v%d" % (name, (versions[-1] if versions else 0) + 1)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(os.path.join(parent, new))
    _swap(parent, name, new)
    for v in [0] + versions:
        shutil.rmtree(os.path.join(parent, "%s.v%d" % (name, v)), ignore_errors=True)


def start_batch_stream(
    spark: SparkSession,
    schema,
    input_dir: str,
    checkpoint_dir: str,
    batch_fn,
    max_files_per_trigger: int,
    available_now: bool,
):
    """Start (and return) a streaming query calling ``batch_fn(batch_df,
    batch_id)`` per micro-batch of the parquet drops in ``input_dir``.
    ``available_now`` drains what is there and stops; False tails.
    Checkpoints a batch creates are released after it."""

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        with checkpoint_scope():
            batch_fn(batch_df, batch_id)

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(_run)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_batch(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Land one micro-batch's rows in ``out_dir/batch=<id>`` (overwrite:
    a replayed batch replaces its own output)."""
    df.write.mode("overwrite").parquet("%s/batch=%d" % (out_dir, batch_id))


def read_batches(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every ``batch=<id>`` dir under ``out_dir`` as one frame (with the
    ``batch`` partition column)."""
    return spark.read.option("basePath", out_dir).parquet(out_dir + "/batch=*")


# per-thread stack of open scopes: module-level so that checkpoints taken
# deep inside the gate ops reach the caller's scope without a parameter
# threaded through every function, and per-thread so that a concurrent
# job on another thread (or a stream's micro-batch thread) keeps its own
_scopes = threading.local()


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` — materialized once, lineage
    truncated — released when the innermost enclosing
    :func:`checkpoint_scope` of this thread exits (kept otherwise)."""
    out = df.localCheckpoint(eager=True)
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(out)
    return out


def release(df: DataFrame) -> None:
    """Free the blocks of a frame returned by :func:`checkpoint`."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


@contextmanager
def checkpoint_scope():
    """Release every :func:`checkpoint` taken inside the block (on this
    thread) when it exits, and nothing else."""
    stack = _scopes.__dict__.setdefault("stack", [])
    mine: list[DataFrame] = []
    stack.append(mine)
    try:
        yield
    finally:
        stack.pop()
        for df in mine:
            release(df)
