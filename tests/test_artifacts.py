"""The shared persisted-artifact lifecycle (``pipeline/artifacts.py``):
crash-safe table swaps, refusal of unswappable paths, checkpoint release
that never touches another job's cached RDDs, and the curation CLI's
corpus-wide span coverage under a holdout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _foreign_persist(spark, monkeypatch, module, name) -> list:
    """Wrap ``module.name`` so that, mid-call, another "job" sharing the
    session persists an RDD of its own; returns those RDDs."""
    foreign = []
    orig = getattr(module, name)

    def wrapped(*a, **kw):
        foreign.append(spark.sparkContext.parallelize(range(4)).cache())
        return orig(*a, **kw)

    monkeypatch.setattr(module, name, wrapped)
    return foreign


def _assert_survived(spark, foreign) -> None:
    assert foreign, "the wrapped function was never called"
    alive = _persisted(spark)
    try:
        assert all(r.id() in alive for r in foreign)
    finally:
        for r in foreign:
            r.unpersist()


def _crash_at_commit(monkeypatch, canonical: str) -> None:
    """Make the step that lands a new table at ``canonical`` fail, as a
    crash between staging and commit would."""
    for fn in ("replace", "rename"):
        orig = getattr(os, fn)

        def failing(src, dst, *a, _orig=orig, **kw):
            if os.path.abspath(dst) == os.path.abspath(canonical):
                raise OSError("injected crash at commit")
            return _orig(src, dst, *a, **kw)

        monkeypatch.setattr(os, fn, failing)


def _transcripts(spark):
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, _ = synthesize(spark, n_convs=6, turns_per_conv=4, seed=3)
    return df


def test_extend_conv_index_spares_foreign_persist(spark, tmp_path, monkeypatch):
    from pdfparse_spark.pipeline import conv_index as ci

    t = _transcripts(spark)
    idx = str(tmp_path / "cidx")
    ci.build_conv_index(spark, t.filter("conv_id < 'conv000003'"), idx)
    foreign = _foreign_persist(spark, monkeypatch, ci, "conv_chains")
    pre = _persisted(spark)
    assert ci.extend_conv_index(spark, t, idx)["n_added"] > 0
    _assert_survived(spark, foreign)
    # and the call's own checkpoint is released
    assert _persisted(spark) <= pre


def test_conv_dedup_filter_spares_foreign_persist(spark, monkeypatch):
    from pdfparse_spark.pipeline import convops

    foreign = _foreign_persist(spark, monkeypatch, convops, "conv_chains")
    convops.conv_dedup_filter(_transcripts(spark))
    _assert_survived(spark, foreign)


def test_run_curate_cli_spares_foreign_persist(spark, tmp_path, monkeypatch):
    import contextlib
    import io

    from pdfparse_spark.pipeline import run_curate

    foreign = _foreign_persist(spark, monkeypatch, run_curate, "_curate_parts")
    pre = _persisted(spark)
    with contextlib.redirect_stdout(io.StringIO()):
        run_curate.main(
            ["--sf-dir", SF, "--out", str(tmp_path / "cur"), "--num-files", "2"]
        )
    _assert_survived(spark, foreign)
    # the run's own checkpoints (the shared tokenized frame) are released
    assert _persisted(spark) <= pre


def test_score_with_decon_index_persists_nothing(spark, tmp_path):
    from pdfparse_spark.pipeline.decon_index import (
        build_decon_index,
        score_with_decon_index,
    )

    docs = spark.read.parquet(SF + "/documents.parquet").select("doc_id", "text")
    idx = str(tmp_path / "decon")
    build_decon_index(spark, docs.filter(F.col("doc_id") % 7 == 0), idx)
    pre = _persisted(spark)
    score_with_decon_index(spark, docs, idx).collect()
    assert _persisted(spark) == pre


def test_compact_bloom_crash_at_commit_keeps_previous_words(
    spark, tmp_path, monkeypatch
):
    from pdfparse_spark.pipeline.bloom_index import build_bloom_index, compact_bloom_deltas

    idx = str(tmp_path / "bloom")
    docs = spark.createDataFrame(
        [(i, "doc %d text" % i) for i in range(40)], "doc_id long, text string"
    )
    build_bloom_index(spark, docs, idx, bits=1 << 12)
    # a streaming delta whose bits the base lacks, so compaction changes words
    spark.createDataFrame([(63, -1)], "word_idx int, word long").write.parquet(
        idx + "/deltas/ck=abc/batch=0"
    )

    def words():
        return sorted(map(tuple, spark.read.parquet(idx + "/words").collect()))

    before = words()
    _crash_at_commit(monkeypatch, idx + "/words")
    with pytest.raises(OSError, match="injected"):
        compact_bloom_deltas(spark, idx)
    assert words() == before
    monkeypatch.undo()
    compact_bloom_deltas(spark, idx)
    assert words() != before and (63, -1) in words()


def test_compact_ann_crash_at_commit_keeps_previous_vectors(
    spark, tmp_path, monkeypatch
):
    from pdfparse_spark.pipeline.ann_index import (
        build_ivfpq_index,
        compact_index_ingests,
        encode_into_index,
    )

    idx = str(tmp_path / "ann")
    build_ivfpq_index(spark, SF, idx)
    new_rows = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") < 4)
        .select((F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label")
    )
    encode_into_index(spark, idx, new_rows, ingest="a1")

    def vectors():
        return sorted(
            (r["vec_id"], r["ingest"], tuple(r["codes"]))
            for r in spark.read.parquet(idx + "/vectors").collect()
        )

    before = vectors()
    _crash_at_commit(monkeypatch, idx + "/vectors")
    with pytest.raises(OSError, match="injected"):
        compact_index_ingests(spark, idx)
    assert vectors() == before
    monkeypatch.undo()
    compact_index_ingests(spark, idx)
    assert {r[1] for r in vectors()} == {"base"}


def test_unswappable_index_dir_rejected_before_any_write(spark, tmp_path):
    """Only local paths can be swapped with a rename; any other scheme is
    refused with ValueError before anything is read or written."""
    from pdfparse_spark.pipeline import artifacts
    from pdfparse_spark.pipeline.ann_index import compact_index_ingests
    from pdfparse_spark.pipeline.bloom_index import compact_bloom_deltas

    for call in (
        lambda: compact_bloom_deltas(spark, "s3a://bucket/idx"),
        lambda: compact_index_ingests(spark, "s3a://bucket/idx"),
        lambda: artifacts.replace_table(spark.range(1), "hdfs://nn/idx/words"),
    ):
        with pytest.raises(ValueError, match="swapped atomically"):
            call()
    # file: URIs are local paths
    target = tmp_path / "t"
    artifacts.replace_table(spark.range(3), "file://%s/words" % target)
    assert spark.read.parquet(str(target / "words")).count() == 3


def test_replace_table_swaps_a_link_and_drops_old_versions(spark, tmp_path):
    from pdfparse_spark.pipeline.artifacts import replace_table

    d = str(tmp_path)
    os.makedirs(d + "/words")  # a plain table dir, as written before swaps
    spark.range(2).write.mode("overwrite").parquet(d + "/words")
    for n in (5, 7):
        # the new version may read the table it replaces
        replace_table(spark.read.parquet(d + "/words").union(spark.range(n)), d + "/words")
    assert os.path.islink(d + "/words")
    assert spark.read.parquet(d + "/words").count() == 2 + 5 + 7
    assert sorted(os.listdir(d)) == ["words", os.readlink(d + "/words")]


def test_checkpoint_scope_releases_only_its_own(spark):
    """A scope frees exactly the checkpoints taken inside it on its own
    thread — not ones taken before it, and not a concurrent job's taken
    on another thread while it is open."""
    import threading

    from pdfparse_spark.pipeline.artifacts import checkpoint, checkpoint_scope, release

    outside = checkpoint(spark.range(3))
    other = []
    pre = _persisted(spark)
    with checkpoint_scope():
        with checkpoint_scope():
            checkpoint(spark.range(4))
        assert _persisted(spark) == pre
        checkpoint(spark.range(5))
        job = threading.Thread(target=lambda: other.append(checkpoint(spark.range(6))))
        job.start()
        job.join(120)
        assert not job.is_alive() and len(other) == 1
        assert len(_persisted(spark) - pre) == 2
    assert len(_persisted(spark) - pre) == 1  # the other thread's survives
    assert outside.count() == 3 and other[0].count() == 6
    release(outside)
    release(other[0])
    assert len(pre - _persisted(spark)) == 1


def test_run_curate_cli_holdout_strip_spans_covers_eval_slice(spark, tmp_path):
    """With --holdout-dir, duplicated-span coverage is still computed over
    the FULL corpus: an 8+-gram shared only by one held-out doc and one
    train doc is stripped from the train doc."""
    import contextlib
    import io

    import pandas as pd

    from pdfparse_spark.pipeline.run_curate import main
    from pdfparse_spark.pipeline.textops import docs_split_holdout

    d = str(tmp_path / "corpus")
    os.makedirs(d)

    def write(texts):
        pd.DataFrame(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["t"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ).to_parquet(d + "/documents.parquet")

    texts = [" ".join("d%02dw%02d" % (i, j) for j in range(20)) for i in range(30)]
    write(texts)
    split = {r["doc_id"]: r["split"] for r in docs_split_holdout(spark, d).collect()}
    val_id = min(i for i, s in split.items() if s == "val")
    train_id = min(i for i, s in split.items() if s == "train")
    shared = " ".join("s%02d" % i for i in range(10))
    texts[val_id] += " " + shared
    texts[train_id] += " " + shared
    write(texts)

    out = str(tmp_path / "curated")
    with contextlib.redirect_stdout(io.StringIO()):
        main(
            [
                "--sf-dir", d, "--out", out, "--num-files", "2",
                "--holdout-dir", str(tmp_path / "val"), "--strip-spans",
            ]
        )
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert val_id not in got
    row = got[train_id]
    assert not set(row["clean_text"].split()) & set(shared.split())
    assert row["n_removed_tokens"] == 10
