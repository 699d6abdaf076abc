"""Persisted embedding-quality classifier: train the logistic-regression
model once, score any frame — or a live stream — from storage.

Production model-based filtering (CCNet / RefinedWeb style) is not one
query that trains its classifier in-plan (that is ``train_embed_lr``,
the gate form) plus a hardwired scoring pass (``embed_quality_score``) —
it is a TRAIN job run when labeled data changes, and many SCORE jobs
that apply the stored model to each new crawl increment.  This module is
that split; meta, table swap and stream face follow ``artifacts.py``:

- :func:`train_lr_model` runs the distributed full-batch GD loop
  (``textops._lr_fit`` — one aggregate job per iteration, ~dim+2 doubles
  to the driver) over any (vec_id, embedding, label) frame, folds the
  per-dimension standardization into RAW-space coefficients driver-side
  (w'_j = w_j/sd_j, b' = b − Σ w_j·mu_j/sd_j, plain left fold in index
  order so the artifact is reproducible bit-for-bit), and writes two
  parquet tables under ``out_dir``: ``weights`` (pos, w, mu, sd) — dim
  rows; and ``meta`` (dim, bias, target_label, iters, rate, final_loss,
  feat_tag).
- :func:`score_with_lr_model` appends (quality_score, keep) to any
  (vec_id, embedding) frame — one scan, one JVM projection against the
  constant-folded stored weight vector; no training work, no labels
  needed at score time.  Scoring always uses the STORED dim and feature
  tag, never the caller's (the bloom-index seed lesson: a feature-space
  mismatch silently mis-scores every row).  Rows whose vector length
  differs from the stored dim get (NULL, false) — malformed rows never
  keep — rather than a silent wrong dot product.
- :func:`start_stream_lr_score` scores an embedding STREAM with the
  stored model: per-row scores depend only on that row's own vector and
  the static weights, so micro-batch boundaries cannot change any
  verdict.

Scale: training is ``iters`` map-side-combinable aggregate jobs over a
persisted standardized projection (textops.train_embed_lr's plan); the
stored model is dim+1 doubles; scoring a 100 TB increment is one scan
with an embarrassingly-parallel projection — no shuffle, no UDF, the
weight vector is ONE array Literal (never a per-dim expression chain —
the sign-LSH Janino lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifacts import read_meta, replace_table, start_batch_stream, write_batch, write_meta
from .textops import (
    _LR_ITERS,
    _LR_LABEL,
    _LR_RATE,
    _embed_centered_stats,
    _lr_fit,
    _sql_darray,
)

__all__ = [
    "train_lr_model",
    "score_with_lr_model",
    "start_stream_lr_score",
]

# the scoring convention baked into the artifact: raw-space fold of the
# standardization, left-fold dot from 0D, sigmoid over round(margin, 6).
# Stored in meta so a future change cannot be silently applied to a model
# trained under the old convention.
_FEAT_TAG = "embed-lr-rawfold-v1"

# one schema definition for embedding-stream sources (mirrors the
# embeddings parquet table so tests and pipelines can feed slices of it)
EMB_INPUT_SCHEMA = "vec_id long, embedding array<float>, label int"


def train_lr_model(
    spark: SparkSession,
    embs: DataFrame,
    out_dir: str,
    target_label: int = _LR_LABEL,
    iters: int = _LR_ITERS,
    rate: float = _LR_RATE,
) -> dict:
    """Fit the one-vs-rest classifier on ``embs`` (vec_id, embedding,
    label) and persist raw-space weights + meta.  Returns training
    stats (final loss, separation) so callers can gate on convergence
    before shipping the model.  Refuses a frame with inconsistent vector
    dimensions: ragged rows would NULL out of the standardized zip_with
    and silently deflate every gradient (the count stays in n while the
    sums drop them) — the train-time twin of the score-time dim guard."""
    e, dim, stats, _n = _embed_centered_stats(spark, "", embs=embs)
    n_bad = embs.filter(F.size(F.col("embedding")) != dim).count()
    if n_bad:
        raise ValueError(
            "training frame has %d row(s) whose vector length != %d (the "
            "max dimension observed); a mixed-dimension frame trains a "
            "silently skewed model — clean the input first" % (n_bad, dim)
        )
    b, w, trace, mu, sd = _lr_fit(
        e, dim, stats, iters, rate, target_label=target_label
    )
    # fold standardization into raw-space coefficients, deterministically:
    # margin(x) = b + Σ w_j (x_j − mu_j)/sd_j  =  bias + Σ (w_j/sd_j) x_j
    w_raw = [wj / sj for wj, sj in zip(w, sd)]
    bias = b
    for wj, mj, sj in zip(w, mu, sd):
        bias -= wj * mj / sj
    replace_table(
        spark.createDataFrame(
            [(j, float(w_raw[j]), float(mu[j]), float(sd[j])) for j in range(dim)],
            "pos int, w double, mu double, sd double",
        ).coalesce(1),
        out_dir + "/weights",
    )
    final_loss = trace[-1][1] if trace else float("nan")
    write_meta(
        spark,
        out_dir,
        "dim int, bias double, target_label int, iters int, "
        "rate double, final_loss double, feat_tag string",
        (dim, float(bias), int(target_label), int(iters), float(rate),
         float(final_loss), _FEAT_TAG),
    )
    return {
        "dim": dim,
        "final_loss": final_loss,
        "p_pos": trace[-1][2] if trace else None,
        "p_neg": trace[-1][3] if trace else None,
    }


def _read_model(spark: SparkSession, model_dir: str):
    meta = read_meta(spark, model_dir, tag=_FEAT_TAG)
    rows = (
        spark.read.parquet(model_dir + "/weights")
        .orderBy("pos")
        .collect()
    )
    dim = int(meta["dim"])
    if len(rows) != dim or [r["pos"] for r in rows] != list(range(dim)):
        raise ValueError(
            "model at %r: weights table has %d rows for dim=%d — the "
            "artifact is corrupt" % (model_dir, len(rows), dim)
        )
    return meta, [r["w"] for r in rows]


def score_with_lr_model(
    spark: SparkSession,
    embs: DataFrame,
    model_dir: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append (quality_score, keep) to ``embs`` from the stored model —
    the scoring half of the classifier without its training half.  Dim
    and convention come from STORED meta.  One row per input row;
    wrong-dimension vectors score (NULL, false)."""
    meta, w = _read_model(spark, model_dir)
    return _score_frame(embs, int(meta["dim"]), float(meta["bias"]), w, vec_col)


def _score_frame(
    embs: DataFrame, dim: int, bias: float, w: list, vec_col: str
) -> DataFrame:
    margin = (
        F.expr(
            f"aggregate(zip_with(CAST({vec_col} AS array<double>), "
            f"{_sql_darray(w)}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
        )
        + F.lit(bias)
    )
    margin = F.when(F.size(F.col(vec_col)) == dim, margin)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.round(margin, 6)))
    return embs.select(
        "*",
        F.round(score, 4).alias("quality_score"),
        F.coalesce((margin >= 0), F.lit(False)).cast("boolean").alias("keep"),
    )


def start_stream_lr_score(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    model_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Score an embedding stream against the persisted model.  Meta and
    weights are read ONCE at stream start (a model is immutable for its
    lifetime — retraining writes a new model dir)."""
    meta, w = _read_model(spark, model_dir)  # once; fail fast BEFORE start
    dim, bias = int(meta["dim"]), float(meta["bias"])

    def _score_batch(batch_df, batch_id: int) -> None:
        write_batch(_score_frame(batch_df, dim, bias, w, "embedding"), out_dir, batch_id)

    return start_batch_stream(
        spark, EMB_INPUT_SCHEMA, input_dir, checkpoint_dir, _score_batch,
        max_files_per_trigger, available_now,
    )
