"""Persisted Bloom-filter index: build once, extend incrementally, probe
from any later job.

Production cross-run dedup is not one query that builds its filter
in-plan (that is ``dedup_bloom_prior``, the gate form) — it is an INDEX
BUILD job after each crawl that writes the filter to storage, EXTEND jobs
that OR each new increment's bits in, and probe jobs that read the filter
and flag suspected duplicates at scan speed.  This module is that split;
meta, table swap, stream face and checkpoints follow ``artifacts.py``:

- :func:`build_bloom_index` writes two parquet tables under ``out_dir``:
  ``words`` (word_idx, word) — the bit set as SPARSE signed 64-bit
  words (absent word_idx = all-zero), O(set bits) at any m; and
  ``meta``  (bits, k, seed_tag, n_set_bits) — the probe parameters.
  Every later operation takes bits/k/seed from the STORED meta, never
  from the caller — a hashing mismatch is the silent false-negative
  failure mode, so it must be structurally impossible.
- :func:`extend_bloom_index` ORs a new increment's bits into ``words`` —
  idempotent by construction (OR of already-set bits is a no-op), so a
  retried ingest cannot corrupt the filter.
- :func:`probe_bloom_index` appends ``bloom_hit`` to any DataFrame with
  the text column.  Two verdict-identical probe plans: up to
  ``_LITERAL_MAX_BITS`` a stateless per-row expression against the
  constant-folded bit-set literal, zero shuffle (the gate op's audited
  plan shape); past it, k broadcast equality joins against the sparse
  (word_idx, word) frame — the fat side still never shuffles, and the
  filter never materializes on the driver.  Either way it reads the
  base ``words`` OR-ed with every streaming delta partition, so texts
  indexed only by a live stream are visible to batch probes without
  waiting for compaction.
- :func:`start_stream_bloom_index` maintains the index from a stream
  (per-batch delta partitions); :func:`compact_bloom_deltas` folds the
  deltas into the base words.

WRITER FENCING, stated honestly: the filter is monotone, so a replayed
stream batch reproduces its original verdicts ONLY if the bit set it
probes is what it originally probed.  The stream excludes its own
batch's delta (self-influence handled); what it cannot defend against
is a base mutation — an ``extend_bloom_index`` or compaction that lands
between a batch's original run and its replay can flip that replay's
first-occurrence verdicts to hits.  Run batch extends and compaction
only while no stream lineage on the index has uncommitted batches (the
single-writer discipline; on a real cluster an Iceberg table's snapshot
isolation gives the same guarantee transactionally).

All operations share the ONE position/probe definition in ``textops``
(`_bloom_positions` / `_with_bloom_hit`).  Scale: every build/extend
aggregates onto the ≤bits position domain (map-side combine), so shuffle
and driver collect are bounded by the filter size however large the
corpus; the estimated false-positive rate at probe time is
``(n_set_bits / bits) ** k``, reported by :func:`bloom_index_stats`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifacts import (
    checkpoint,
    local_path,
    read_meta,
    replace_table,
    start_batch_stream,
    write_batch,
    write_meta,
)
from .textops import (
    _BLOOM_BITS,
    _BLOOM_K,
    _bloom_positions,
    _with_bloom_hit,
    _with_bloom_hit_join,
)

__all__ = [
    "build_bloom_index",
    "extend_bloom_index",
    "probe_bloom_index",
    "bloom_index_stats",
    "start_stream_bloom_index",
    "compact_bloom_deltas",
]

_SEED_TAG = "bloomidx"
_META_SCHEMA = "bits int, k int, seed_tag string, n_set_bits long"

# Past this filter size the constant-folded literal probe (one bits/8-byte
# array shipped inside the plan) stops being sane — probe_bloom_index
# switches to the broadcast (word_idx, word) equality join, which stays a
# few-MB broadcast up to m ≈ 2^31.  The literal is kept below the cutover
# because it is strictly cheaper there (zero joins, zero broadcast).
_LITERAL_MAX_BITS = 1 << 24


def _commit_words(
    spark: SparkSession,
    index_dir: str,
    words: DataFrame,
    bits: int,
    k: int,
    seed_tag: str,
) -> None:
    """Swap in ``words`` as the filter's sparse (word_idx, word) table — an
    absent word_idx is all-zero on both probe paths, keeping the table
    O(set bits) even at m = 2^28+ — then its meta.  Extend and compact
    keep bits/k/seed, so a crash between the two swaps can leave only
    the informational n_set_bits stale."""
    if bits % 64:
        raise ValueError("bits must be a multiple of 64")
    # small filters (≤ the literal cutover) stay one tidy file; giant
    # ones keep the write parallel
    if bits <= _LITERAL_MAX_BITS:
        words = words.coalesce(1)
    replace_table(words, index_dir + "/words")
    n_row = (
        spark.read.parquet(index_dir + "/words")
        .agg(F.sum(F.bit_count("word")).alias("n"))
        .collect()[0]
    )
    write_meta(spark, index_dir, _META_SCHEMA, (bits, k, seed_tag, int(n_row["n"] or 0)))


def _fold_rewrite_words(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame | None = None,
    text_col: str = "text",
    include_deltas: bool = False,
) -> None:
    """Fold the base words (optionally with every streaming delta and/or
    the bits of a ``docs`` increment) into a fresh sparse words table
    by a DISTRIBUTED bit_or aggregate, then swap it in — the filter
    never materializes on the driver, so extend/compact work at any m.
    Hashing parameters come from the stored meta."""
    local_path(index_dir)  # refuse an unswappable dir before any work
    meta = read_meta(spark, index_dir)
    bits, k, seed_tag = meta["bits"], meta["k"], meta["seed_tag"]
    words = _read_words_df(spark, index_dir, include_deltas=include_deltas)
    if docs is not None:
        words = (
            words.unionByName(_increment_words_df(docs, text_col, bits, k, seed_tag))
            .groupBy("word_idx")
            .agg(F.bit_or("word").alias("word"))
        )
    _commit_words(spark, index_dir, words.filter(F.col("word") != 0), bits, k, seed_tag)


def _increment_words_df(
    docs: DataFrame, text_col: str, bits: int, k: int, seed_tag: str
) -> DataFrame:
    """The bits of ``docs`` as a distributed sparse (word_idx, word)
    frame — nothing collects on the driver.  Map-side combine bounds
    the shuffle by the ≤m position domain; the column-valued shift needs
    the SQL surface (pyspark's shiftleft takes only int bits)."""
    pos = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.array(*_bloom_positions(F.col(text_col), seed_tag, bits, k))
            ).alias("pos")
        )
        .distinct()
    )
    return (
        pos.select(
            F.expr("CAST(shiftright(pos, 6) AS INT)").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("w1"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("w1").alias("word"))
    )


def _delta_words(
    spark: SparkSession,
    index_dir: str,
    exclude_delta_batch: tuple[str, int] | None = None,
) -> DataFrame | None:
    """The streaming delta partitions as one (word_idx, word) frame, or
    None when no stream has written deltas yet."""
    from pyspark.errors import AnalysisException

    try:
        deltas = spark.read.option("basePath", index_dir + "/deltas").parquet(
            index_dir + "/deltas/ck=*/batch=*"
        )
    except AnalysisException:
        return None
    if exclude_delta_batch is not None:
        ck, bid = exclude_delta_batch
        deltas = deltas.filter(~((F.col("ck") == ck) & (F.col("batch") == bid)))
    return deltas.select("word_idx", "word")


def _word_array(
    spark: SparkSession,
    index_dir: str,
    bits: int,
    include_deltas: bool = False,
    exclude_delta_batch: tuple[str, int] | None = None,
) -> list[int]:
    """The filter as a dense signed-word array on the driver — the
    literal probe's input, sane only up to ``_LITERAL_MAX_BITS``."""
    words = [0] * (bits // 64)
    for r in _read_words_df(spark, index_dir, include_deltas, exclude_delta_batch).collect():
        words[r["word_idx"]] = r["word"]
    return words


def _read_words_df(
    spark: SparkSession,
    index_dir: str,
    include_deltas: bool = False,
    exclude_delta_batch: tuple[str, int] | None = None,
) -> DataFrame:
    """The filter as a deduplicated (word_idx, word) frame — never
    materialized on the driver.  With ``include_deltas``, every streaming
    delta partition under ``index_dir/deltas`` is OR-ed in;
    ``exclude_delta_batch=(ck, id)`` skips that one batch's delta (the
    stream's replay-stable probe).  Base and delta rows for the same
    index are folded with a bitwise-OR aggregate (sparse rows stay
    sparse)."""
    words = spark.read.parquet(index_dir + "/words").select("word_idx", "word")
    if include_deltas:
        deltas = _delta_words(spark, index_dir, exclude_delta_batch)
        if deltas is not None:
            words = words.unionByName(deltas)
    return words.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def build_bloom_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    text_col: str = "text",
    bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
) -> dict:
    """Build the filter over ``docs`` and persist it under ``out_dir``.
    Size ``bits ≈ 1.44 · expected_distinct · log2(1/target_fp)``."""
    _commit_words(
        spark, out_dir, _increment_words_df(docs, text_col, bits, k, _SEED_TAG),
        bits, k, _SEED_TAG,
    )
    return bloom_index_stats(spark, out_dir)


def extend_bloom_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
) -> dict:
    """OR a new increment's bits into an existing index (idempotent —
    re-running the same increment leaves the filter value-identical).
    Probe parameters come from the stored meta, never the caller.
    Fully distributed: the increment aggregates to a sparse word frame,
    the fold is one bit_or aggregate, and the rewrite is a staged
    write+swap — nothing driver-side scales with m, so extends work on
    filters far past the literal cutover.  See the module docstring's
    writer-fencing note before running this while a stream maintains
    the same index."""
    _fold_rewrite_words(spark, index_dir, docs=docs, text_col=text_col)
    return bloom_index_stats(spark, index_dir)


def probe_bloom_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    out_col: str = "bloom_hit",
    include_deltas: bool = True,
    method: str = "auto",
) -> DataFrame:
    """Append ``out_col`` to ``docs``: 1 = the text was (probably) in the
    indexed corpus — false negatives impossible, false positives at the
    stats-reported rate.  Streaming delta partitions are visible by
    default, so batch probes see stream-indexed texts without waiting
    for compaction.  NULL texts probe to 0 (nothing to dedup).

    ``method``: ``'literal'`` constant-folds the bit set into the plan
    (cheapest, sane to m ≈ 2^24); ``'join'`` probes via k broadcast
    equality joins on the sparse (word_idx, word) frame (the large-m
    path — never materializes the filter on the driver); ``'auto'``
    picks by the STORED bits against ``_LITERAL_MAX_BITS``.  Both paths
    are verdict-identical (pytest-pinned)."""
    if method not in ("auto", "literal", "join"):
        raise ValueError("method must be 'auto', 'literal' or 'join'")
    meta = read_meta(spark, index_dir)
    bits, k, seed_tag = meta["bits"], meta["k"], meta["seed_tag"]
    if method == "auto":
        method = "literal" if bits <= _LITERAL_MAX_BITS else "join"
    if method == "literal":
        words = _word_array(spark, index_dir, bits, include_deltas=include_deltas)
        probed = _with_bloom_hit(
            docs, words, text_col=text_col, seed_tag=seed_tag, bits=bits, k=k, out_col=out_col
        )
    else:
        # eager checkpoint: the k join legs each broadcast this frame
        # with leg-specific aliases, so exchange reuse cannot collapse
        # them — without the checkpoint the base∪deltas scan + bit_or
        # aggregate would execute k times per probe
        words_df = checkpoint(
            _read_words_df(spark, index_dir, include_deltas=include_deltas)
        )
        probed = _with_bloom_hit_join(
            docs, words_df, text_col=text_col, seed_tag=seed_tag, bits=bits, k=k, out_col=out_col
        )
    return probed.withColumn(
        out_col,
        F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(F.col(out_col)),
    )


def bloom_index_stats(
    spark: SparkSession, index_dir: str, include_deltas: bool = True
) -> dict:
    """Fill fraction and estimated per-probe false-positive rate over the
    filter a probe would actually see (base + streaming deltas).  Counts
    set bits distributedly (one bit_count aggregate over the sparse word
    frame), so it works at any m without a driver-side array."""
    meta = read_meta(spark, index_dir)
    bits, k = meta["bits"], meta["k"]
    row = (
        _read_words_df(spark, index_dir, include_deltas=include_deltas)
        .agg(F.sum(F.bit_count("word")).alias("n"))
        .collect()[0]
    )
    n_set = int(row["n"] or 0)
    fill = n_set / bits
    return {
        "bits": bits,
        "k": k,
        "n_set_bits": n_set,
        "fill": round(fill, 6),
        "est_fp_rate": round(fill**k, 8),
    }


def compact_bloom_deltas(
    spark: SparkSession, index_dir: str, remove_deltas: bool = False
) -> dict:
    """Fold every streaming delta partition into the base ``words`` (an
    idempotent OR — safe to re-run).  With ``remove_deltas`` the delta
    tree is deleted afterwards (local filesystem paths only): do that
    ONLY once no stream lineage on this index can still replay a batch
    whose delta is being removed — see the writer-fencing note."""
    _fold_rewrite_words(spark, index_dir, include_deltas=True)
    if remove_deltas:
        import shutil

        shutil.rmtree(local_path(index_dir) + "/deltas", ignore_errors=True)
    return bloom_index_stats(spark, index_dir)


def start_stream_bloom_index(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Streaming maintenance of the DURABLE index: each micro-batch probes
    its turns against everything indexed before it, then contributes its
    own bits as a delta partition — so the filter survives the query, is
    visible to batch probes (which read deltas by default), and keeps
    growing across restarts (the ``ann_index.start_stream_index_append``
    role for dedup).

    ``bits``/``k`` apply only when the index does not exist yet (the
    stream then initializes it with an empty base); an EXISTING index's
    stored meta always wins, so the probe can never run with mismatched
    hashing.  Replay protocol (the payload-cache discipline from
    stream_extract): the probe reads the base plus every delta EXCEPT
    this batch's own, so a replayed batch recomputes its original
    verdicts and its delta ``overwrite`` is byte-stable — provided the
    base is not mutated between run and replay (module docstring's
    writer-fencing note).  Within-batch duplicates can't be seen by that
    probe, so they are flagged by an exact sha2 first-occurrence window
    over the batch itself (``within_dup``); ``bloom_hit`` is the OR of
    both.  Deltas are ≤ bits/64 rows each, scoped ``ck=<sha(checkpoint)>``;
    fold them with :func:`compact_bloom_deltas` periodically (the probe
    cost grows one tiny file per batch until then).  NULL-text turns
    carry nothing to dedup and are skipped, as in ``dedup_stream``.
    """
    import hashlib

    from pyspark.errors import AnalysisException
    from pyspark.sql import Window

    from ..pipeline.transcripts import INPUT_SCHEMA

    seed_tag = _SEED_TAG
    try:
        meta = read_meta(spark, index_dir)
        # stored params always win, seed included — hashing with anything
        # but the seed the bits were built with silently breaks the
        # no-false-negative guarantee
        bits, k, seed_tag = meta["bits"], meta["k"], meta["seed_tag"]
    except AnalysisException:
        empty = spark.createDataFrame([], "word_idx int, word long")
        _commit_words(spark, index_dir, empty, bits, k, seed_tag)

    ck_tag = hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]
    delta_root = "%s/deltas/ck=%s" % (index_dir, ck_tag)

    def _process_batch(batch_df, batch_id: int) -> None:
        keyed = (
            batch_df.filter(F.col("text").isNotNull())
            .withColumn(
                "id", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
            )
            .select("id", "ts", "text")
            .persist()
        )
        try:
            w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("ts", "id")
            marked = keyed.withColumn(
                "within_dup", (F.row_number().over(w) > 1).cast("int")
            )
            # same literal/join dispatch as probe_bloom_index: past the
            # literal cutover a micro-batch must neither materialize the
            # dense word array on the driver nor ship a tens-of-MB
            # literal in every batch plan
            own = (ck_tag, batch_id)
            if bits <= _LITERAL_MAX_BITS:
                prior = _word_array(
                    spark, index_dir, bits, include_deltas=True, exclude_delta_batch=own
                )
                probed = _with_bloom_hit(
                    marked, prior, seed_tag=seed_tag, bits=bits, k=k, out_col="prior_hit"
                )
            else:
                words_df = checkpoint(
                    _read_words_df(
                        spark, index_dir, include_deltas=True, exclude_delta_batch=own
                    )
                )
                probed = _with_bloom_hit_join(
                    marked, words_df, seed_tag=seed_tag, bits=bits, k=k, out_col="prior_hit"
                )
            write_batch(
                probed.select(
                    "id",
                    "prior_hit",
                    "within_dup",
                    F.greatest("prior_hit", "within_dup").alias("bloom_hit"),
                ),
                out_dir,
                batch_id,
            )
            write_batch(
                _increment_words_df(keyed, "text", bits, k, seed_tag).coalesce(1),
                delta_root,
                batch_id,
            )
        finally:
            keyed.unpersist()

    return start_batch_stream(
        spark, INPUT_SCHEMA, input_dir, checkpoint_dir, _process_batch,
        max_files_per_trigger, available_now,
    )
