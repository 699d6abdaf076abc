"""IVF+PQ index persistence: build once, search many.

Production ANN is not one query composing training + search (that is
``sim_ann_ivfpq``, the gate form) — it is an INDEX BUILD job that writes
the quantized representation to storage, and search jobs that read the
index without ever touching the corpus vectors except for the tiny
refine shortlist.  This module provides exactly that split (tables are
written, swapped and streamed through ``artifacts.py``):

- :func:`build_ivfpq_index` writes three parquet tables under ``out_dir``:
  ``vectors``   (vec_id, cell, probe_cells, codes) — 8 int codes/vector,
                the 32x-compressed searchable corpus;
  ``codebook``  (m, code, centroid) — the trained PQ sub-codebooks;
  ``coarse``    (cell, centroid, nrm) — the coarse quantizer, needed to
                encode NEW vectors into an existing index.
- :func:`search_ivfpq_index` reads the index, scores candidates by ADC
  from their stored codes (cell-keyed equality join — the corpus's full
  vectors are NOT resident), and refines the 10-deep shortlist with
  exact cosine fetched from the embeddings table.

The search body intentionally mirrors ``sim_ann_ivfpq``'s; the pytest
pins row-for-row equality between the two paths, so they cannot drift
silently.  Scale notes match the gate op: encoding and ADC are literal-
codebook HOF expressions, candidates meet in one equality join on the
cell id, and only queries x 10 full vectors are ever fetched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .artifacts import local_path, replace_table, start_batch_stream
from .textops import (
    _DOT,
    _EMB_DIM,
    _N_PROBE_PQ,
    _PQ_K,
    _PQ_M,
    _cell_top,
    _emb,
    _pq_books_literal,
    _pq_sub_d2s,
    _train_pq_codebooks,
    _trained_coarse,
)

__all__ = [
    "build_ivfpq_index",
    "compact_index_ingests",
    "encode_into_index",
    "search_ivfpq_index",
    "start_stream_index_append",
]


def _unit_rows(rows: DataFrame) -> DataFrame:
    """Corpus-schema (vec_id, embedding) rows as NORMALIZED (vec_id, v,
    nrm=1) — the one expression chain of the build, the appends and the
    search.  All-zero embeddings are dropped: they have no direction to
    index, and x/0 = NaN would flow into k-means training and the
    persisted cells/codes silently."""
    e = rows.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).withColumn(
        "nrm",
        F.expr("sqrt(aggregate(transform(v, x -> x * x), 0D, (acc, x) -> acc + x))"),
    )
    return e.filter(F.col("nrm") > 0).select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("v"),
        F.lit(1.0).alias("nrm"),
    )


def _encode_vectors(
    e: DataFrame, books: list[list[list[float]]],
    coarse: list[tuple[int, list[float], float]],
) -> DataFrame:
    """Quantize a NORMALIZED (vec_id, v, nrm) frame against fixed PQ
    codebooks + coarse cells, producing the ``vectors`` table schema
    (vec_id, cell, probe_cells, codes).  Pure literal-codebook HOF
    projections — no shuffle, no training; shared by the initial build
    and :func:`encode_into_index` (append without retraining)."""
    sub = _EMB_DIM // _PQ_M
    cb = _pq_books_literal(books)
    code_cols = []
    for m in range(_PQ_M):
        d2s = _pq_sub_d2s(
            F.element_at(cb, m + 1), F.slice(F.col("v"), m * sub + 1, sub)
        )
        code_cols.append(F.array_position(d2s, F.array_min(d2s)).cast("int"))
    staged = _cell_top(e, coarse, _N_PROBE_PQ)
    return staged.select(
        "vec_id",
        F.element_at(F.col("top"), 1).getField("cid").alias("cell"),
        F.expr("transform(top, x -> x.cid)").alias("probe_cells"),
        F.array(*code_cols).alias("codes"),
    )


def _read_books(spark: SparkSession, index_dir: str) -> list[list[list[float]]]:
    book_rows = spark.read.parquet(index_dir + "/codebook").collect()
    books: list[list[list[float]]] = [[None] * _PQ_K for _ in range(_PQ_M)]
    for r in book_rows:
        books[int(r["m"])][int(r["code"])] = [float(x) for x in r["centroid"]]
    return books


def _read_coarse(
    spark: SparkSession, index_dir: str
) -> list[tuple[int, list[float], float]]:
    return [
        (int(r["cell"]), [float(x) for x in r["centroid"]], float(r["nrm"]))
        for r in spark.read.parquet(index_dir + "/coarse").collect()
    ]


def build_ivfpq_index(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Train the PQ codebooks, encode every (normalized) vector, assign
    coarse cells, and persist the index tables.  Returns build stats."""
    sub = _EMB_DIM // _PQ_M
    e = _unit_rows(_emb(spark, sf_dir)).persist()
    try:
        books = _train_pq_codebooks(e, _PQ_M, _PQ_K, sub, iters=2, seed_mod=13)
        # TRAINED coarse quantizer — the same _trained_coarse(e) call
        # sim_ann_ivfpq makes, so the stored index reproduces the gate op
        coarse = _trained_coarse(e)
        # the vectors table is partitioned by an `ingest` label from day
        # one: the initial build owns ingest=base, every later append
        # (batch or streaming micro-batch) owns its own partition, so a
        # replayed streaming batch OVERWRITES ITSELF (dynamic partition
        # overwrite) instead of duplicating rows.  A REBUILD replaces the
        # whole table, so no stale ingest partition (codes under the old
        # codebooks) survives to ADC-decode against the new ones.
        replace_table(
            _encode_vectors(e, books, coarse).withColumn("ingest", F.lit("base")),
            out_dir + "/vectors",
            partition_by="ingest",
        )
        replace_table(
            spark.createDataFrame(
                [
                    (m, code, books[m][code])
                    for m in range(_PQ_M)
                    for code in range(_PQ_K)
                ],
                "m int, code int, centroid array<double>",
            ).coalesce(1),
            out_dir + "/codebook",
        )
        replace_table(
            spark.createDataFrame(
                [(cid, vec, nrm) for cid, vec, nrm in coarse],
                "cell int, centroid array<double>, nrm double",
            ).coalesce(1),
            out_dir + "/coarse",
        )
        n = spark.read.parquet(out_dir + "/vectors").count()
    finally:
        e.unpersist()
    return {"n_vectors": n, "m": _PQ_M, "k": _PQ_K, "cells": len(coarse)}


def _write_ingest(encoded: DataFrame, index_dir: str, ingest: str) -> None:
    """Land encoded rows in the vectors table under their own ingest
    partition; re-running the SAME label overwrites that partition only
    (dynamic partition overwrite) — the replay-stability mechanism."""
    (
        encoded.withColumn("ingest", F.lit(ingest))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest")
        .parquet(index_dir + "/vectors")
    )


def _check_partitioned_layout(spark: SparkSession, index_dir: str) -> None:
    """Refuse to append into a pre-partitioning (flat) vectors layout:
    mixing ingest= subdirs with root-level files breaks partition
    discovery on the next read, with no hint the index needs a rebuild."""
    if "ingest" not in spark.read.parquet(index_dir + "/vectors").columns:
        raise ValueError(
            "index at %r uses the old flat vectors layout — rebuild it "
            "with build_ivfpq_index before appending" % index_dir
        )


def encode_into_index(
    spark: SparkSession,
    index_dir: str,
    new_rows: DataFrame,
    ingest: str,
) -> dict:
    """Append NEW vectors to an existing index WITHOUT retraining: the
    stored PQ codebooks and coarse cells quantize the new rows exactly as
    the build did, and the encoded rows land in the ``vectors`` table
    under their own ``ingest`` partition.  This is what makes the index
    production-real — ingest keeps flowing into a built index; only a
    quality-driven rebuild retrains.

    ``new_rows`` carries the corpus schema (vec_id, embedding) —
    embedding is the raw (un-normalized) vector, normalized here with the
    same expression chain as the build.  vec_ids must be new (not
    validated — an ANN index is not a uniqueness constraint; dup ids
    simply mean dup candidates).  ``ingest`` names this batch's
    partition and is REQUIRED: re-running the SAME label overwrites that
    partition only (dynamic partition overwrite) — which makes retries
    and the streaming face (:func:`start_stream_index_append`)
    replay-stable, and means two different appends MUST use two
    different labels or the second silently replaces the first.
    ``'base'`` (the initial build's partition) and ``batch-<n>`` (the
    streaming face's namespace) are reserved — accepting them would let
    one append silently replace the whole build or a stream batch.
    All-zero embeddings are dropped (no direction to index; indexing
    them would persist NaN cells/codes).  Returns append stats.

    Scale: the append is one shuffle-free projection job over the new
    rows only — the existing partitions are never touched, and the
    codebooks travel as literals.  (On a real lakehouse this is an
    Iceberg append snapshot — atomic, concurrent-reader-safe.)"""
    import re

    if ingest == "base" or re.fullmatch(r"batch-\d+", ingest):
        raise ValueError(
            "ingest label %r is reserved (initial build / streaming "
            "batches) — dynamic partition overwrite would silently "
            "replace that partition's rows" % ingest
        )
    _check_partitioned_layout(spark, index_dir)
    books = _read_books(spark, index_dir)
    coarse = _read_coarse(spark, index_dir)
    # persist: the write and the count would otherwise each run the full
    # codebook-literal encode job over new_rows
    encoded = _encode_vectors(_unit_rows(new_rows), books, coarse).persist()
    try:
        _write_ingest(encoded, index_dir, ingest)
        n = encoded.count()
    finally:
        encoded.unpersist()
    return {"n_appended": n, "m": _PQ_M, "k": _PQ_K, "cells": len(coarse)}


def start_stream_index_append(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Stream embedding parquet drops INTO a built IVF+PQ index: each
    micro-batch is encoded with the STORED codebooks and coarse cells
    (no retraining — the :func:`encode_into_index` body) and lands in
    the vectors table under its own ``ingest=batch-<id>`` partition.
    Replay stability comes from the partition scheme, not from hope: a
    micro-batch re-run after a crash rewrites ITS OWN partition
    (dynamic partition overwrite) instead of appending duplicates, so
    the index converges to exactly-once contents under at-least-once
    execution — the streaming analogue of the extraction stream's
    per-batch output dirs.  The corpus the index points at is appended
    upstream by the same pipeline, so refine-time vector fetches see
    every indexed row (the encode_into_index contract).

    The codebooks/coarse cells are read ONCE at stream start (they are
    immutable for the index's lifetime) and closure-captured — the hot
    path per micro-batch is exactly one encode+write job."""
    # one schema definition for the embeddings stream (shared with the
    # embedding near-dup stream); lazy import avoids a pipeline->streaming
    # import at module load
    from ..streaming.embed_neardup import EMBED_INPUT_SCHEMA

    _check_partitioned_layout(spark, index_dir)
    books = _read_books(spark, index_dir)
    coarse = _read_coarse(spark, index_dir)

    def _append(batch_df, batch_id: int) -> None:
        _write_ingest(
            _encode_vectors(_unit_rows(batch_df), books, coarse),
            index_dir,
            "batch-%d" % batch_id,
        )

    return start_batch_stream(
        spark, EMBED_INPUT_SCHEMA, input_dir, checkpoint_dir, _append,
        max_files_per_trigger, available_now,
    )


def compact_index_ingests(
    spark: SparkSession, index_dir: str, target_files: int = 8
) -> dict:
    """Fold every ingest partition of the vectors table into a single
    compacted ``ingest=base`` partition — the maintenance step a
    long-lived streaming index needs: :func:`start_stream_index_append`
    lands one partition per micro-batch, and after thousands of batches
    the table is thousands of tiny files whose open/seek overhead, not
    bytes, dominates every search scan.  Contents are unchanged
    (search results before == after); only the file layout shrinks.

    ``target_files`` bounds the rewritten partition's file count; at a
    real run size the knob is bytes-per-file, not a count — pair the
    coalesce with ``spark.sql.files.maxRecordsPerFile`` there.

    Crash safety: the compacted table is swapped in with
    ``artifacts.replace_table`` — a crash leaves the previous table
    readable.  Writer fencing is the caller's job, same as
    :func:`compact_bloom_deltas` in bloom_index: compact ONLY when no
    stream lineage on this index can still replay — a batch replayed
    AFTER compaction would re-land its ``batch-<n>`` partition alongside
    the compacted rows and its vectors would rank as duplicate
    candidates."""
    local_path(index_dir)  # refuse an unswappable dir before any work
    _check_partitioned_layout(spark, index_dir)
    v = spark.read.parquet(index_dir + "/vectors")
    n_ingests = v.select("ingest").distinct().count()
    replace_table(
        v.drop("ingest")
        .coalesce(max(1, target_files))
        .withColumn("ingest", F.lit("base")),
        index_dir + "/vectors",
        partition_by="ingest",
    )
    n = spark.read.parquet(index_dir + "/vectors").count()
    return {"n_vectors": n, "n_ingests_folded": n_ingests}


def search_ivfpq_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """ANN search against a stored index: candidates and their ADC scores
    come entirely from the index tables; full vectors are read from the
    embeddings table only for the query rows and the 10-deep refine
    shortlist.  Output schema and values match sim_ann_ivfpq row-for-row
    (pytest-pinned)."""
    sub = _EMB_DIM // _PQ_M
    vectors = spark.read.parquet(index_dir + "/vectors")
    cb = _pq_books_literal(_read_books(spark, index_dir))
    e = _unit_rows(_emb(spark, sf_dir))
    q = (
        vectors.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", F.explode("probe_cells").alias("cell"))
        .join(e.select("vec_id", F.col("v").alias("qv")), "vec_id")
        .withColumnRenamed("vec_id", "query_id")
    )
    n = vectors.select(
        F.col("vec_id").alias("neighbor_id"), "cell", "codes"
    )
    j = q.join(n, "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.aggregate(
            F.zip_with(
                F.slice(F.col("qv"), m * sub + 1, sub),
                F.element_at(
                    F.element_at(cb, m + 1), F.element_at(F.col("codes"), m + 1)
                ),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda x, y: x + y,
        ),
    )
    j = j.select("query_id", "qv", "neighbor_id", F.round(adc, 6).alias("adc_dist"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("neighbor_id"))
    shortlist = j.withColumn("adc_rank", F.row_number().over(w)).filter(
        F.col("adc_rank") <= 10
    )
    nv = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    r = shortlist.join(nv, "neighbor_id").withColumn(
        "cos_sim", F.round(F.expr(_DOT), 4)
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        r.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "adc_dist")
    )
