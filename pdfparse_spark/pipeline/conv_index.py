"""Persisted conversation-dedup index: index a corpus's turn-hash chains
once, screen any later transcript increment — or a stream — from storage.

Cross-run conversation dedup over ``convops``' md5 turn-hash chains
(meta, table swap, stream face and checkpoints follow ``artifacts.py``):
yesterday's crawl is already deduped and shipped;
today's increment must not re-admit a session that is an exact copy —
or an abandoned retry prefix — of anything already indexed.

- :func:`build_conv_index` stores the DISTINCT chain values of every
  position of every indexed conversation (``chains``: one 32-char ``h``
  per value — O(total indexed turns) rows, text never stored) plus
  ``meta`` (chain-convention tag).  Screening always hashes with the
  STORED convention (the bloom-index seed lesson).
- :func:`extend_conv_index` appends only the values a new corpus adds
  (anti-join against the stored set).  The table is an append-only
  value SET probed by semi-join, so a crash mid-append at worst leaves
  some values present — re-running the extend anti-joins and completes
  it; duplicates are semantically harmless and idempotence is by value.
- :func:`probe_conv_index` gives one verdict per incoming conversation:
  ``in_index`` ⇔ its full chain tail equals ANY stored position value ⇔
  the conversation is an exact duplicate OR a strict turn-prefix of an
  indexed session — one rule catches both duplicate grains.
- :func:`start_stream_conv_screen` screens a transcript STREAM per
  micro-batch against the index read ONCE at start.  Verdicts are
  conversation-local given the static index.  Each stream file must
  carry complete conversations (the stream_extract ingestion contract)
  — a session split across files would chain only the turns seen in
  its batch.

Deliberate asymmetry, stated honestly: an incoming conversation that
EXTENDS an indexed session (the index holds the abandoned prefix, the
completion arrives later) is kept — retroactively superseding already-
shipped rows is a compaction problem, not a screening one.  Within-
increment duplicates are also out of scope here: compose with
``convops.conv_dedup_filter`` first, then probe the survivors.

Scale: probing a 10^12-turn increment reduces it map-side to one
32-char tail per conversation; the only join is a semi/left equality
join of that skinny frame against the stored value set (distinct keys —
no hot-key surface), and the fat text never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifacts import (
    checkpoint,
    checkpoint_scope,
    read_batches,
    read_meta,
    replace_table,
    start_batch_stream,
    write_batch,
    write_meta,
)
from .convops import conv_chains

__all__ = [
    "build_conv_index",
    "extend_conv_index",
    "probe_conv_index",
    "start_stream_conv_screen",
    "read_conv_verdicts",
]

# the chain convention baked into convops.conv_chains (md5 over
# \x1f-joined NULL-coalesced role/text, chained md5 in turn order);
# stored in meta so an index built under an older convention cannot be
# silently probed with a newer one
_FEAT_TAG = "conv-md5chain-v1"

# one schema definition for transcript-stream sources (the input_hint
# table, mirrored so tests and pipelines can feed slices of it)
TRANSCRIPT_INPUT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _chain_values(transcripts: DataFrame) -> DataFrame:
    return (
        conv_chains(transcripts)
        .select(F.explode("chain").alias("h"))
        .distinct()
    )


def build_conv_index(
    spark: SparkSession, transcripts: DataFrame, out_dir: str
) -> dict:
    """Index every chain-position value of ``transcripts`` and persist
    the value set + meta.  Returns index stats."""
    replace_table(_chain_values(transcripts), out_dir + "/chains")
    write_meta(spark, out_dir, "feat_tag string", (_FEAT_TAG,))
    n = spark.read.parquet(out_dir + "/chains").count()
    return {"n_chain_values": n}


def _read_index(spark: SparkSession, index_dir: str) -> DataFrame:
    read_meta(spark, index_dir, tag=_FEAT_TAG)
    return spark.read.parquet(index_dir + "/chains").select("h")


def extend_conv_index(
    spark: SparkSession, transcripts: DataFrame, index_dir: str
) -> dict:
    """Append the chain values ``transcripts`` adds beyond the stored set.
    Idempotent by value: re-running after a crash (or with an already-
    indexed corpus) appends nothing new that matters."""
    stored = _read_index(spark, index_dir)
    # checkpoint, not persist: it TRUNCATES lineage, so the append below
    # never re-reads the very files it is appending to (persist could
    # silently recompute from source on eviction)
    with checkpoint_scope():
        new = checkpoint(_chain_values(transcripts).join(stored, "h", "left_anti"))
        n_new = new.count()
        if n_new:
            new.write.mode("append").parquet(index_dir + "/chains")
    return {"n_added": n_new}


def probe_conv_index(
    spark: SparkSession, transcripts: DataFrame, index_dir: str
) -> DataFrame:
    """One row per incoming conversation: (conv_id, n_turns, in_index,
    keep).  ``in_index`` marks sessions whose full chain tail is already
    indexed — an exact duplicate or a strict prefix of an indexed
    session; ``keep`` is its negation."""
    stored = _read_index(spark, index_dir)
    return _probe(conv_chains(transcripts), stored)


def _probe(chains: DataFrame, stored: DataFrame) -> DataFrame:
    tails = chains.select(
        "conv_id", "n_turns", F.element_at("chain", -1).alias("h")
    )
    hits = tails.join(stored, "h", "left_semi").select(
        "conv_id", F.lit(True).alias("in_index")
    )
    return tails.join(hits, "conv_id", "left").select(
        "conv_id",
        "n_turns",
        F.coalesce("in_index", F.lit(False)).alias("in_index"),
        F.col("in_index").isNull().alias("keep"),
    )


def start_stream_conv_screen(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Screen a transcript stream against the persisted index.  The value
    set is read ONCE at stream start and pinned in memory (an index is
    immutable for its probing lifetime — extends write new files, a new
    stream picks them up); per-batch work is one chain job + one
    semi-join."""
    stored = checkpoint(_read_index(spark, index_dir))

    def _screen_batch(batch_df, batch_id: int) -> None:
        write_batch(_probe(conv_chains(batch_df), stored), out_dir, batch_id)

    return start_batch_stream(
        spark, TRANSCRIPT_INPUT_SCHEMA, input_dir, checkpoint_dir, _screen_batch,
        max_files_per_trigger, available_now,
    )


def read_conv_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_batches(spark, out_dir)
