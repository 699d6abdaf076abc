"""Training-data pipeline operators over the ``documents`` / ``embeddings``
tables: deduplication, similarity search, text analysis.

Each public function takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching DuckDB oracle SQL (same column names, same rounding) lives in
``ORACLES`` next to it.  Ops whose hash family (xxhash64) has no DuckDB
equivalent are rows-only checked by the driver and pinned against their
exact counterparts in pytest instead (minhash-LSH vs exact Jaccard,
simhash hamming pairs).

Scale notes per op are inline; the common theme: the *exact* pairwise ops
(word-shingle Jaccard, brute-force cosine) are the small-data oracles, and
the sketch/bucketed variants (MinHash-LSH, sign-LSH ANN, banded SimHash)
are the 100 TB paths — candidate generation via equality joins on sketch
keys, never an O(n²) cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .artifacts import checkpoint, release

__all__ = ["QUERIES", "ORACLES"]

# tokenization shared by every text op — MUST stay in sync with the DuckDB
# expression _SQL_TOKS below (same regex class, same empty-token filter).
# _TOKS_T is the column-parameterized template (streaming/neardup.py builds
# the same expression over a different column name).
_TOKS_T = "filter(split(lower({col}), '[^a-z0-9]+'), w -> w != '')"
_TOKS = _TOKS_T.format(col="text")
_SQL_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> w <> '')"

# 3-word shingles over the token array (order-preserving, then de-duplicated)
_SHINGLES = (
    "CASE WHEN size(arr) >= 3 THEN "
    "array_distinct(transform(sequence(1, size(arr) - 2), "
    "i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1), element_at(arr, i + 2)))) "
    "ELSE array() END"
)
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(arr) - 1, 1)), "
    "i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# Shingles appearing in more than this many documents are dropped before any
# exact-Jaccard equi-join: a hot boilerplate shingle ("all rights reserved")
# otherwise blows the a.sh = b.sh join up quadratically on that one key.
# Dropping ultra-common shingles changes Jaccard negligibly (they carry no
# discrimination) — standard practice in web-scale near-dedup.  128 is far
# above the max df on the test corpora (25 at sf0.1), so small-scale results
# are bit-identical; at 100 TB it bounds the worst key to 128² pairs.
#
# Trade-off, stated honestly: a MUTUALLY-near-duplicate cluster larger than
# the cap shares shingles whose df exceeds it, so the cap can hide such a
# mega-cluster from the sketch.  The pipeline order defuses this: run
# dedup_exact / dedup_keep_best FIRST (identical copies — the usual cause of
# df that high — collapse to one representative before near-dup runs), and
# at production scale raise the cap toward a corpus-relative threshold
# (e.g. max(128, 0.1% of docs)) rather than lowering it.
_MAX_SHINGLE_DF = 128


def _tokenized_arr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skinny (doc_id, arr) eager-localCheckpointed tokenize — the
    single-tokenize front end for the shingle family: every op that
    derives shingles consumes its (doc_id, sh) frames 2–3 times (sizes +
    both self-join legs; signature + join stages), and each consumer
    sits below any exchange, so without the checkpoint the regex
    tokenize — the most expensive expression in these plans — re-runs
    per consumer.  Values unchanged (tokenize is deterministic).
    Thin wrapper over _tokenized_docs (ONE tokenize+checkpoint
    definition) without the fat text column the curate legs need."""
    return _tokenized_docs(spark, sf_dir, with_text=False)


def _shingle_rows(
    spark: SparkSession,
    sf_dir: str,
    max_df: int | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sh) exploded distinct shingles — input to jaccard + minhash.

    With ``max_df``, shingles whose document frequency exceeds it are
    dropped via a count window over the shingle key — one shuffle on ``sh``,
    the same partitioning the downstream equi-join needs anyway.
    ``docs`` optionally supplies a pre-tokenized (doc_id, ..., arr) frame.
    """
    base = (
        docs.select("doc_id", "arr")
        if docs is not None
        else _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS).alias("arr"))
    )
    sh = base.select("doc_id", F.explode(F.expr(_SHINGLES)).alias("sh"))
    if max_df is None:
        return sh
    w = Window.partitionBy("sh")
    return sh.withColumn("df", F.count("*").over(w)).filter(F.col("df") <= max_df).drop("df")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one group per sha256(text); keep the min doc_id.

    Scale: a single hash-aggregate shuffle on a 32-byte key — the cheapest
    possible dedup at 100 TB; AQE coalesces the post-agg partitions.
    """
    return (
        _docs(spark, sf_dir)
        .groupBy(F.sha2(F.col("text"), 256).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
    )


def _exact_jaccard_pairs(sh, cand=None):
    """(doc_a, doc_b, jaccard) pairs with jaccard >= 0.5 from a
    (doc_id, sh) shingle frame — the ONE definition of the exact-Jaccard
    verification math, shared by dedup_ngram_jaccard (all pairs via the
    shingle self-join) and dedup_minhash_lsh (candidate pairs only).  The
    two ops are pinned against each other in pytest; sharing the body
    makes that pin structural."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    if cand is None:
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        inter = (
            cand.join(a, cand.doc_a == F.col("a.doc_id"))
            .join(b, (cand.doc_b == F.col("b.doc_id")) & (F.col("a.sh") == F.col("b.sh")))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Exact 3-word-shingle Jaccard pairs ≥ 0.5 (the small-scale oracle).

    Scale: quadratic in pair count by design — this op exists as the
    correctness oracle for MinHash-LSH, which is the 100 TB path
    (dedup_minhash_lsh) — but the per-key blowup is bounded: shingles with
    document frequency > _MAX_SHINGLE_DF are dropped before the self-join
    (mirrored exactly in the DuckDB oracle).
    """
    if docs is None:
        docs = _tokenized_arr(spark, sf_dir)  # tokenize ONCE for all 3 consumers
    return _exact_jaccard_pairs(
        _shingle_rows(spark, sf_dir, max_df=_MAX_SHINGLE_DF, docs=docs)
    )


_MINHASH_PERMS = 32
_LSH_BANDS = 8  # 4 rows/band → P(candidate | j=0.5) ≈ 1-(1-0.5^4)^8 ≈ 0.4, j=0.9 ≈ 0.998


def minhash_band_rows(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band_key) rows — the MinHash signature + LSH banding stage
    of :func:`dedup_minhash_lsh`, exposed so the streaming face
    (streaming/neardup.py) can be parity-pinned against the REAL batch
    construction rather than a copy of it.

    Hash family: each shingle string is xxhash64'd ONCE, then the 32
    permutations rehash that long — 1 string hash + 32 long hashes per
    row instead of 32 string hashes (2.9x faster signature stage at
    sf0.1; same independence in practice, and ANSI-safe, unlike
    multiply-mix families which raise on long overflow).  Signatures
    hash the UNCAPPED shingle set (standard MinHash; see
    dedup_minhash_lsh on why the df cap applies to join stages only).
    """
    base = _shingle_rows(spark, sf_dir, docs=docs).withColumn(
        "h", F.xxhash64(F.col("sh"))
    )
    sigs = base.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.lit(i), F.col("h"))).alias("h%d" % i) for i in range(_MINHASH_PERMS)]
    )
    rows_per_band = _MINHASH_PERMS // _LSH_BANDS
    band_keys = F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col("h%d" % (b * rows_per_band + r)) for r in range(rows_per_band)])
            for b in range(_LSH_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_keys).alias("band_key"))


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """MinHash(32 perms) + LSH(8 bands × 4 rows) candidate pairs, verified
    with exact Jaccard ≥ 0.5.  Output shape == dedup_ngram_jaccard.

    Scale path: candidates come from an equality join on band keys (shuffle
    on a 8×n-row key set), never a cross join; verification touches only
    candidate pairs.  Hash family: xxhash64(seed, shingle) — JVM-side,
    whole-stage-codegen'd.  No DuckDB oracle (hash family differs);
    pinned against dedup_ngram_jaccard in tests/test_textops.py.

    The df-cap (df ≤ _MAX_SHINGLE_DF) applies to the JOIN stages only —
    the band-key candidate join and the exact-Jaccard verification join —
    where a hot boilerplate shingle would blow up quadratically.  The
    signature stage hashes the UNCAPPED shingle set (standard MinHash):
    the cap's count-window is a full shuffle on the shingle key, pure
    overhead in a stage that only aggregates per doc_id, and minhash
    already tolerates hot shingles (they shift all signatures equally).
    On the test corpora max df is 25 < 128, so capped and uncapped
    signatures are identical and the exact-Jaccard pytest pin is unchanged.
    """
    if docs is None:
        docs = _tokenized_arr(spark, sf_dir)  # tokenize ONCE for both stages
    sh = _shingle_rows(spark, sf_dir, max_df=_MAX_SHINGLE_DF, docs=docs)
    bands = minhash_band_rows(spark, sf_dir, docs=docs)
    ba = bands.alias("a")
    bb = bands.alias("b")
    cand = (
        ba.join(bb, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact jaccard — literally dedup_ngram_jaccard's
    # body (shared helper), only the pair source differs
    return _exact_jaccard_pairs(sh, cand)


_SIMHASH_BITS = 63  # stay within a signed long without sign games


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — 63-bit SimHash over word unigrams (multiplicity
    counts as weight), hash family xxhash64.  All JVM-side expressions.

    The per-bit vote counts are bit-sliced: 16 packed longs, each carrying
    four 16-bit popcount lanes, so the groupBy runs 17 aggregates instead
    of 63 (measured 5x faster at sf0.1; signatures identical).  Bit i is
    set iff 2*ones_i > n_words — same majority vote as summing +/-1 per
    word.  Bound: each row adds < 2^49 to a packed sum, so ANSI long
    overflow (which raises) binds first at ~16k words per doc — far past
    any real document; chunk upstream if a corpus ever gets there.
    """
    words = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.expr(_TOKS)).alias("w"))
        .withColumn("h", F.xxhash64(F.lit(0), F.col("w")))
    )
    aggs = [F.count("*").alias("n")]
    for s in range(16):
        lanes = []
        for j in range(4):
            i = 4 * s + j
            if i >= _SIMHASH_BITS:
                break
            lanes.append("((shiftright(h, %d) & 1) << %d)" % (i, 16 * j))
        aggs.append(F.expr("sum(%s)" % " + ".join(lanes)).alias("p%d" % s))
    votes = words.groupBy("doc_id").agg(*aggs)
    terms = []
    for i in range(_SIMHASH_BITS):
        s, j = divmod(i, 4)
        ones = "((p%d >> %d) & 65535)" % (s, 16 * j)
        terms.append("IF(2 * %s > n, %dL, 0L)" % (ones, 1 << i))
    return votes.select("doc_id", F.expr(" + ".join(terms)).alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ 3, banded join on 4×16-bit
    chunks (pigeonhole: hamming ≤ 3 ⇒ at least one equal chunk), so the
    candidate join is an equality join — the 100 TB path.  Rows-only check
    (xxhash64 family); invariants pinned in tests/test_textops.py.
    """
    sigs = _simhash_sigs(spark, sf_dir)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.shiftright(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF)) for c in range(4)])
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "und", "das", "ein"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "y"],
}


def _marker_count(lang: str) -> str:
    words = ", ".join("'%s'" % w for w in _LANG_MARKERS[lang])
    return "size(filter(arr, w -> w IN (%s)))" % words


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID via stopword-marker counts (argmax with
    fixed priority en>de>fr>es; 'unknown' when no marker hits)."""
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS).alias("arr"))
    d = d.select(
        "doc_id",
        *[F.expr(_marker_count(lang)).alias("%s_hits" % lang) for lang in _LANG_MARKERS],
    )
    return d.withColumn(
        "lang_guess",
        F.expr(
            "CASE WHEN en_hits = 0 AND de_hits = 0 AND fr_hits = 0 AND es_hits = 0 THEN 'unknown' "
            "WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en' "
            "WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de' "
            "WHEN fr_hits >= es_hits THEN 'fr' ELSE 'es' END"
        ),
    )


def _quality_expr():
    """The UNROUNDED text-quality composite over (text, arr) columns — the
    single definition shared by text_quality (rounded, reported) and both
    keep-best ranking paths, so a weight change cannot desynchronize the
    dedup decision from the reported score."""
    stop = F.expr(
        "size(filter(arr, w -> w IN ('the','a','and','of','to','in','is')))"
    ) / F.greatest(F.size("arr"), F.lit(1))
    alpha = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    ) / F.greatest(F.length("text"), F.lit(1))
    return (
        F.least(F.size("arr") / F.lit(64.0), F.lit(1.0))
        * (0.5 + 0.5 * alpha)
        * (1.0 - 0.5 * stop)
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:

    """Quality scoring: token count, stopword ratio, alpha ratio → composite."""
    d = _docs(spark, sf_dir).select("doc_id", "text", F.expr(_TOKS).alias("arr"))
    # quality is computed from the UNROUNDED ratios: feeding rounded inputs
    # into the product creates exact .00005 boundaries where Spark and
    # DuckDB round() can disagree by 1 ulp (seen at sf0.1)
    stop_raw = F.expr(
        "size(filter(arr, w -> w IN ('the','a','and','of','to','in','is')))"
    ) / F.greatest(F.size("arr"), F.lit(1))
    alpha_raw = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    ) / F.greatest(F.length("text"), F.lit(1))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        F.size("arr").alias("n_tokens"),
        F.round(stop_raw, 4).alias("stopword_ratio"),
        F.round(alpha_raw, 4).alias("alpha_ratio"),
        F.round(_quality_expr(), 4).alias("quality_score"),
    )


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.expr("size(filter(split(text, '\\\\s+'), w -> w != ''))").alias("ws_tokens"),
        F.expr("regexp_count(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]')").alias("bpe_tokens"),
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: sha256 over the sorted distinct token set —
    catches word-order/duplication-insensitive duplicates in one agg pass."""
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS).alias("arr"))
    return d.select(
        "doc_id",
        F.sha2(F.concat_ws(" ", F.array_sort(F.array_distinct(F.col("arr")))), 256).alias("fingerprint"),
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual dedup DECISION a training pipeline makes: within each
    exact-duplicate group keep the doc with the best quality score (doc_id
    as the deterministic tie-break), emit kept id + how many it displaced.

    Scale: one hash-agg shuffle on sha256(text) after a narrow per-row
    quality projection — same cost shape as dedup_exact; the window runs
    inside the group partition (max group size == dup multiplicity).
    """
    d = _docs(spark, sf_dir).select("doc_id", "text", F.expr(_TOKS).alias("arr"))
    scored = d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("text_hash"),
        _quality_expr().alias("q"),  # text_quality's composite, unrounded
    )
    w = Window.partitionBy("text_hash").orderBy(F.col("q").desc(), F.col("doc_id"))
    ranked = scored.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("text_hash")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc_id"),
            (F.count("*") - 1).alias("n_discarded"),
            F.round(F.max("q"), 4).alias("best_quality"),
        )
    )


# PII patterns shared by the Spark op and the DuckDB oracle — restricted to
# syntax both Java regex and RE2 support identically (no lookaround, no
# backrefs).  Emails are redacted BEFORE urls so `user@host` inside a URL
# query-string can't be double-counted.
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_URL_RE = "https?://[^\\s]+"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count + redact emails and URLs with typed placeholders.

    The documents vocab carries no PII, so each row is augmented with a
    deterministic contact tail built from doc_id (identically in the oracle)
    — the op under test is the redaction itself.  Scale: pure JVM-side
    regexp over one column, whole-stage-codegen'd, no shuffle at all.
    """
    d = _docs(spark, sf_dir)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@mail.example.com or https://ex.org/d/"),
        F.col("doc_id"),
        F.lit("?ref=corpus"),
    )
    d = d.select("doc_id", raw.alias("raw"))
    return d.select(
        "doc_id",
        F.expr("regexp_count(raw, '%s')" % _EMAIL_RE).alias("n_emails"),
        F.expr("regexp_count(raw, '%s')" % _URL_RE).alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
        ).alias("redacted"),
    )


def text_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus length profile with EXACT percentiles.

    Scale note: `percentile` is exact (sorts per group) — fine when the
    group count is tiny (languages) and rows-per-group are millions; for
    high-cardinality groups at 100 TB switch to approx_percentile, which is
    a sketch merge.  The oracle (quantile_cont) pins the exact variant.
    """
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 2).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 2).alias("p90_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def text_gopher_quality(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Gopher/C4-style repetition filters: top-unigram mass fraction and
    duplicate-trigram occurrence fraction, plus the pass/fail decision a
    training pipeline actually applies.

    Scale: one explode + two hash aggregates keyed by (doc_id, gram) with
    map-side combine — the gram key includes doc_id, so hot vocabulary never
    concentrates on one reducer; everything JVM-side, no UDFs.

    ``docs`` optionally supplies an already-tokenized (doc_id, ..., arr)
    frame (corpus_curate's shared checkpoint) so a composed pipeline
    tokenizes the corpus exactly once across all its legs.
    """
    if docs is None:
        docs = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS).alias("arr"))
        # eager localCheckpoint: three consumers (base, uni, tri) sit BELOW
        # any exchange, so AQE reuse can't help and each branch would re-run
        # the regex tokenize over the corpus — 3x the single most expensive
        # expression in the plan.  Checkpointing the skinny (doc_id, arr,
        # n_tokens) frame tokenizes ONCE; values are unchanged (oracle-green).
        docs = checkpoint(docs)
    base = docs.select("doc_id", "arr", F.size("arr").alias("n_tokens"))
    uni = (
        base.select("doc_id", F.explode("arr").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_uni"))
    )
    # trigrams WITH multiplicity (repetition is the signal — no distinct)
    tri_expr = (
        "CASE WHEN size(arr) >= 3 THEN transform(sequence(1, size(arr) - 2), "
        "i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1), element_at(arr, i + 2))) "
        "ELSE array() END"
    )
    tri = (
        base.select("doc_id", F.explode(F.expr(tri_expr)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tri"), F.count("*").alias("n_tri_distinct"))
    )
    out = (
        base.select("doc_id", "n_tokens")
        .join(uni, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .fillna(0, ["top_uni", "n_tri", "n_tri_distinct"])
    )
    top_frac = F.col("top_uni") / F.greatest(F.col("n_tokens"), F.lit(1))
    dup_frac = F.when(
        F.col("n_tri") > 0, 1.0 - F.col("n_tri_distinct") / F.col("n_tri")
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        "n_tokens",
        F.round(top_frac, 4).alias("top_unigram_frac"),
        F.round(dup_frac, 4).alias("dup_trigram_frac"),
        (
            (F.col("n_tokens") >= 8)
            & (top_frac <= 0.2)
            & (dup_frac <= 0.3)
        ).cast("int").alias("gopher_pass"),
    )


_PPL_THRESHOLD = 7.0  # nats/token; corpus-tuned in production


def text_perplexity(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """CCNet-style LM quality filter (Wenzek et al. 2020): score every
    document by the mean negative log-probability of its tokens under an
    add-one-smoothed unigram LM trained on the corpus itself, and flag
    keeps under a perplexity threshold.  (CCNet uses a KenLM 5-gram; the
    unigram variant keeps the engine-side plan identical — swap the
    probability table, nothing else changes.)

    Scale: two (key-grouped, map-side-combined) hash aggregates — (doc, w)
    term counts and the corpus vocabulary — then a w-keyed equality join
    over DISTINCT (doc, w) pairs (never the raw token stream, so a
    stopword repeated 10^4 times in one doc is ONE join row) and a one-row
    broadcast of (N, V).  No UDFs, no driver loops; the LM 'training' is
    the vocab aggregate itself.

    Parity: p(w) = (c_w + 1) / (N + V) is an exact-integer ratio evaluated
    in one double division — bit-identical across engines — so ln() sees
    identical doubles (the proven embed_quality_score exp() pattern);
    the per-doc mean is rounded to 4 decimals (double-sum order drift
    ~1e-12 against a 5e-5 rounding margin); ``lm_keep`` decides on the
    unrounded mean's comparison, as embed_quality_score does.

    ``docs`` optionally supplies an already-tokenized (doc_id, ..., arr)
    frame (corpus_curate_full's shared checkpoint) — the exploded token
    rows are identical either way."""
    if docs is None:
        d = _docs(spark, sf_dir).select(
            "doc_id", F.explode(F.expr(_TOKS)).alias("w")
        )
    else:
        d = docs.select("doc_id", F.explode("arr").alias("w"))
    dw = d.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    # vocab from the aggregated (doc, w) pairs, NOT from d: re-exploding
    # the corpus would run the tokenize+explode scan twice (two
    # differently-keyed aggregates can't share an exchange); sum(c) over
    # distinct pairs is the identical integer count
    vocab = dw.groupBy("w").agg(F.sum("c").alias("cw"))
    tot = vocab.agg(
        F.sum("cw").alias("n_total"), F.count("*").alias("v_size")
    )
    j = dw.join(vocab, "w").crossJoin(F.broadcast(tot))
    ll = -F.log(
        (F.col("cw") + 1).cast("double")
        / (F.col("n_total") + F.col("v_size")).cast("double")
    )
    per_doc = j.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        (F.sum(F.col("c") * ll) / F.sum("c")).alias("avg"),
    )
    scored = per_doc.select(
        "doc_id",
        "n_tokens",
        F.round("avg", 4).alias("avg_logloss"),
        (F.col("avg") <= _PPL_THRESHOLD).cast("int").alias("lm_keep"),
    )
    # CCNet's actual selection mechanism: head/middle/tail perplexity
    # terciles.  NOT a global ntile (that is a SinglePartition sort of the
    # whole corpus) — compute the two tercile cutoffs as a one-row agg and
    # broadcast them back, so assignment is embarrassingly parallel.
    # Cutoffs come from the ROUNDED score (bit-identical across engines;
    # the unrounded double's ~1e-12 summation drift could flip a doc
    # sitting exactly on a cutoff); percentile() ↔ quantile_cont()
    # interpolation parity is the proven text_length_stats pattern.
    # cutoffs rounded to the score's 4-decimal grid — engines' quantile
    # interpolations differ in the last ulp, and a doc whose rounded
    # score EQUALS a cutoff flips buckets (the sf0.1 bigram incident)
    cuts = scored.agg(
        F.round(F.expr("percentile(avg_logloss, 1.0D / 3)"), 4).alias("p33"),
        F.round(F.expr("percentile(avg_logloss, 2.0D / 3)"), 4).alias("p66"),
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        "avg_logloss",
        "lm_keep",
        F.when(F.col("avg_logloss") <= F.col("p33"), "head")
        .when(F.col("avg_logloss") <= F.col("p66"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


def text_perplexity_bigram(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """text_perplexity's n-gram extension (the CCNet direction — their
    KenLM is a 5-gram; the bigram shows the plan generalizes): score
    every document by the mean negative log-probability of its BIGRAMS
    under an add-one-smoothed conditional LM trained on the corpus
    itself, p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), with V the corpus
    unigram vocabulary size.  Documents with fewer than 2 tokens have no
    bigrams and are excluded (they carry no conditional signal).

    Scale: identical shape to the unigram op, one key wider — a
    (doc, w1, w2)-grouped hash aggregate (map-side combined; the doc_id
    in the key spreads hot collocations), the corpus bigram LM derived
    from that aggregate (never a re-explode), a (w1, w2)-keyed equality
    join over DISTINCT per-doc bigrams, context counts c(w1·) as a
    second aggregation OF THE LM (vocabulary-sized, not corpus-sized),
    and a one-row broadcast of V.  Terciles via broadcast percentile
    cutoffs, never a global sort.

    Parity: p is an exact-integer ratio evaluated in one double
    division — bit-identical across engines — so ln() sees identical
    doubles; the weighted mean is rounded to 4 decimals and the tercile
    cutoffs come from the ROUNDED score (the proven text_perplexity
    pattern)."""
    if docs is None:
        # tokenize ONCE: the bigram explode and the vocab leg both consume
        # arr, and the regex tokenize is the most expensive expression in
        # this module — without the checkpoint it re-runs per consumer
        # (the text_gopher_quality docs-None discipline)
        base = checkpoint(
            _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS).alias("arr"))
        )
    else:
        base = docs.select("doc_id", "arr")
    bg_expr = (
        "CASE WHEN size(arr) >= 2 THEN transform(sequence(1, size(arr) - 1), "
        "i -> struct(element_at(arr, i) AS w1, element_at(arr, i + 1) AS w2)) "
        "ELSE array() END"
    )
    bg = base.select("doc_id", F.explode(F.expr(bg_expr)).alias("p"))
    dbg = bg.groupBy(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    ).agg(F.count("*").alias("c"))
    # the LM from the aggregated per-doc counts, NOT a re-explode
    cbg = dbg.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    c1 = cbg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vtot = base.select(F.explode("arr").alias("w")).agg(
        F.countDistinct("w").alias("v_size")
    )
    j = (
        dbg.join(cbg, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vtot))
    )
    ll = -F.log(
        (F.col("c12") + 1).cast("double")
        / (F.col("c1") + F.col("v_size")).cast("double")
    )
    per_doc = j.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        (F.sum(F.col("c") * ll) / F.sum("c")).alias("avg"),
    )
    scored = per_doc.select(
        "doc_id", "n_bigrams", F.round("avg", 4).alias("avg_logloss")
    )
    # cutoffs ROUNDED to the same 4-decimal grid as the score: the two
    # engines' quantile interpolations differ in the last ulp, and a doc
    # whose rounded score EQUALS the cutoff would otherwise flip buckets
    # (caught at sf0.1: 37 docs sat exactly on the terciles)
    cuts = scored.agg(
        F.round(F.expr("percentile(avg_logloss, 1.0D / 3)"), 4).alias("p33"),
        F.round(F.expr("percentile(avg_logloss, 2.0D / 3)"), 4).alias("p66"),
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_bigrams",
        "avg_logloss",
        F.when(F.col("avg_logloss") <= F.col("p33"), "head")
        .when(F.col("avg_logloss") <= F.col("p66"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


# perplexity CTE fragment, ppl_-prefixed so it composes into larger oracle
# chains (corpus_curate_full) without CTE-name collisions
_SQL_PPL_CTES = f"""
        ppl_toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS w FROM documents),
        ppl_dw AS (SELECT doc_id, w, count(*) AS c FROM ppl_toks GROUP BY doc_id, w),
        ppl_vocab AS (SELECT w, count(*) AS cw FROM ppl_toks GROUP BY w),
        ppl_tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_total, count(*) AS v_size FROM ppl_vocab),
        ppl_j AS (
            SELECT ppl_dw.doc_id, ppl_dw.c,
                   -ln(CAST(ppl_vocab.cw + 1 AS DOUBLE)
                       / CAST(ppl_tot.n_total + ppl_tot.v_size AS DOUBLE)) AS ll
            FROM ppl_dw JOIN ppl_vocab USING (w), ppl_tot
        ),
        ppl_scored AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   round(sum(c * ll) / sum(c), 4) AS avg_logloss,
                   CAST(sum(c * ll) / sum(c) <= {_PPL_THRESHOLD} AS INT) AS lm_keep
            FROM ppl_j GROUP BY doc_id
        ),
        ppl_cuts AS (
            SELECT round(quantile_cont(avg_logloss, 1.0 / 3), 4) AS p33,
                   round(quantile_cont(avg_logloss, 2.0 / 3), 4) AS p66
            FROM ppl_scored
        )
"""

# CC-closure + keep-best "dropped docs" CTE chain, shared by the
# corpus_curate and corpus_curate_full oracles (assumes a preceding
# WITH RECURSIVE {_SQL_JACCARD_PAIRS} CTE named `pairs`)
_SQL_CURATE_DROP_CTES = f"""und AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ), nodes AS (
            SELECT DISTINCT a AS doc_id FROM und
        ), reach(src, dst) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
        ), lab AS (
            SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
        ), cscored AS (
            SELECT doc_id,
                   least(len({_SQL_TOKS}) / 64.0, 1.0)
                   * (0.5 + 0.5 * (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                                   * 1.0 / greatest(length(text), 1)))
                   * (1.0 - 0.5 * (len(list_filter({_SQL_TOKS},
                                       w -> w IN ('the','a','and','of','to','in','is')))
                                   * 1.0 / greatest(len({_SQL_TOKS}), 1))) AS q
            FROM documents
        ), cranked AS (
            SELECT l.cluster_id, s.doc_id,
                   row_number() OVER (PARTITION BY l.cluster_id
                                      ORDER BY s.q DESC, s.doc_id) AS rn
            FROM lab l JOIN cscored s USING (doc_id)
        ), dropped AS (
            SELECT doc_id FROM cranked WHERE rn > 1
        )"""

_BPE_TOPK = 32


def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training corpus statistics: adjacent character-pair
    frequencies weighted by word frequency — the exact counts a BPE
    trainer's first merge step ranks (Sennrich et al. 2016, the
    vocabulary-driven formulation every fast trainer uses).

    Scale: stage 1 hash-aggregates the token stream into a (word, wc)
    vocabulary — the only corpus-sized shuffle, with map-side combine
    and a vocabulary-sized output; stage 2 explodes character pairs of
    the DISTINCT vocabulary only (|vocab| << corpus tokens at any
    corpus size — Heaps' law), so per-word pair extraction never touches
    duplicate words.  Pairs carry in-word multiplicity ('aaa' yields
    'aa' twice).  Top-32 merge candidates under the total
    (freq desc, pair asc) order."""
    d = _docs(spark, sf_dir).select(F.explode(F.expr(_TOKS)).alias("w"))
    vocab = d.groupBy("w").agg(F.count("*").alias("wc"))
    pairs = vocab.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), "pair")
        .limit(_BPE_TOPK)
        .select("pair", "freq")
    )


def _bpe_apply_len(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Greedy rank-ordered BPE apply (the classic algorithm): start from
    characters, repeatedly merge the adjacent pair with the best (lowest)
    rank until no ranked pair remains; return the subword count.  Ranks
    key on the (left, right) TOKEN PAIR — concatenation keys would be
    ambiguous once trained merges produce multi-char tokens
    (('h','ug') and ('hu','g') both concatenate to 'hug')."""
    toks = list(word)
    while len(toks) > 1:
        best = None
        bi = -1
        for i in range(len(toks) - 1):
            r = ranks.get((toks[i], toks[i + 1]))
            if r is not None and (best is None or r < best):
                best, bi = r, i
        if best is None:
            break
        toks[bi : bi + 2] = [toks[bi] + toks[bi + 1]]
    return len(toks)


def _bpe_encode_with(spark: SparkSession, sf_dir: str, ranks: dict) -> DataFrame:
    """Shared encode body for the first-order and trained BPE apply ops:
    the greedy merge loop runs over the DISTINCT vocabulary only (one
    vocab-sized Arrow crossing), then a w-keyed join back to the
    (doc, w, c) counts and a doc-keyed agg — the corpus token stream
    never enters Python."""
    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            ws = pdf["w"]
            yield pd.DataFrame(
                {"w": ws, "n_sub": [_bpe_apply_len(w, ranks) for w in ws]}
            )

    d = _docs(spark, sf_dir).select("doc_id", F.explode(F.expr(_TOKS)).alias("w"))
    dw = d.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    vocab = dw.select("w").distinct()
    encoded = vocab.mapInPandas(_encode, schema="w string, n_sub int")
    per_doc = (
        dw.join(encoded, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.length("w")).alias("n_chars"),
            F.sum(F.col("c") * F.col("n_sub")).alias("n_bpe_tokens"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 4).alias("chars_per_token"),
    )


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY step (pairs with text_bpe_pairs' training counts):
    encode every document with a greedy BPE merge table and report
    per-doc subword statistics.  The merge table here is the corpus'
    top-32 character-pair merges (first-order); text_bpe_encode_trained
    below is the production composition, driving the SAME encode body
    with train_bpe_merges' iteratively retrained table.

    Scale: the expensive per-word merge loop runs over the DISTINCT
    vocabulary only — one vocab-sized Arrow crossing (|vocab| << corpus
    tokens, Heaps' law), exactly the content-addressing trick the
    extraction dedup path uses at payload level — then a w-keyed join
    against the (doc, w, c) counts and a doc-keyed agg.  The corpus
    token stream itself never crosses into Python.

    Rows-only (greedy iterative merging is not SQL-expressible); pinned
    by a hand-computed pytest plus the invariant n_chars - n_bpe_tokens
    == total merges applied."""
    ranks = {
        (r["pair"][0], r["pair"][1]): i
        for i, r in enumerate(text_bpe_pairs(spark, sf_dir).collect())
    }
    return _bpe_encode_with(spark, sf_dir, ranks)


_BPE_TRAIN_MERGES = 8


def _bpe_merge_once_expr(a: str, b: str):
    """Apply the single merge (a, b) → ab to a ``seg`` token array,
    left-to-right and non-overlapping (a freshly merged token does not
    re-participate in this round), as one pure fold — no UDF.  The ''
    sentinel is safe: tokens come from [a-z0-9]+ words, never empty."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit("").alias("pend")
    )
    flush = lambda acc: F.when(  # noqa: E731 — local fold helper
        acc["pend"] == "", acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))
    step = lambda acc, t: F.when(  # noqa: E731
        (acc["pend"] == F.lit(a)) & (t == F.lit(b)),
        F.struct(
            F.concat(acc["out"], F.array(F.lit(a + b))).alias("out"),
            F.lit("").alias("pend"),
        ),
    ).otherwise(F.struct(flush(acc).alias("out"), t.alias("pend")))
    return F.aggregate(F.col("seg"), init, step, flush)


_BPE_DRIVER_VOCAB_CAP = 2_000_000  # distinct multi-char words; ~100s of MB


def _bpe_merge_word(toks: list[str], a: str, b: str) -> list[str]:
    """Apply one merge (a, b) → ab left-to-right, non-overlapping — the
    driver-side twin of _bpe_merge_once_expr's fold (a freshly merged
    token never re-participates in the same round)."""
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        if i + 1 < n and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _train_bpe_merges_driver(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """In-memory Sennrich trainer over a COLLECTED (word, wc) vocabulary
    with incremental pair-count maintenance: each merge touches only the
    words that contain the winning pair, so 32k–64k production merge
    rounds cost milliseconds each instead of two Spark jobs each — the
    latency floor no cluster size fixes.  Tie-break (freq desc, left asc,
    right asc) and the non-overlapping merge application are pinned equal
    to the distributed path by pytest (tokens are ASCII [a-z0-9]+, where
    Python code-point order == Spark's UTF-8 binary string order)."""
    from collections import defaultdict

    segs: dict[int, list[str]] = {}
    wcs: dict[int, int] = {}
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, (w, wc) in enumerate(vocab):
        toks = list(w)
        if len(toks) < 2:
            continue
        segs[i] = toks
        wcs[i] = wc
        for p in zip(toks, toks[1:]):
            counts[p] += wc
            where[p].add(i)
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(n_merges):
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        a, b = best
        merges.append((rnd + 1, a, b, counts[best]))
        # re-segment ONLY the words that contain the winning pair;
        # `where` entries may be stale (word re-segmented since), in
        # which case subtract-then-re-add is a harmless no-op
        for i in list(where[best]):
            toks = segs.get(i)
            if toks is None:
                continue
            wc = wcs[i]
            for p in zip(toks, toks[1:]):
                counts[p] -= wc
                if counts[p] <= 0:
                    counts.pop(p)
            new = _bpe_merge_word(toks, a, b)
            if len(new) < 2:  # fully merged — can never pair again
                del segs[i], wcs[i]
            else:
                segs[i] = new
                for p in zip(new, new[1:]):
                    counts[p] += wc
                    where[p].add(i)
        where.pop(best, None)
    return merges


def train_bpe_merges(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = _BPE_TRAIN_MERGES,
    driver_vocab_cap: int | None = _BPE_DRIVER_VOCAB_CAP,
) -> DataFrame:
    """FULL iterative BPE training (Sennrich et al. 2016), not just the
    first-round counts: each round re-counts weighted adjacent-pair
    frequencies over the CURRENT segmentation of the distinct vocabulary,
    takes the (freq desc, pair asc) winner, and applies it left-to-right
    non-overlapping.  Output: the ranked merge table (merge_rank, left,
    right, freq) — the artifact a tokenizer ships; stops early when no
    pair remains.

    Scale: ONE corpus-sized shuffle total (the initial vocab aggregate).
    By Heaps' law the distinct vocabulary fits in driver memory at any
    corpus size, so when it is under ``driver_vocab_cap`` the merge
    rounds run IN-MEMORY on the driver with incremental pair updates
    (_train_bpe_merges_driver) — a production tokenizer needs 32k–64k
    rounds, and two Spark jobs per round is a driver-scheduling latency
    floor no cluster size fixes.  A pathological vocabulary over the cap
    falls back to the fully distributed per-round loop
    (_train_bpe_merges_distributed), pytest-pinned equal.  Rows-only
    (argmax-per-round iteration is not SQL-expressible); pinned by the
    classic hand-computable pytest plus the two-path parity test."""
    d = _docs(spark, sf_dir).select(F.explode(F.expr(_TOKS)).alias("w"))
    vocab = d.groupBy("w").agg(F.count("*").alias("wc"))
    if driver_vocab_cap:
        multi = vocab.filter(F.length("w") >= 2)
        rows = multi.limit(driver_vocab_cap + 1).collect()
        if len(rows) <= driver_vocab_cap:  # the WHOLE vocab is in hand
            merges = _train_bpe_merges_driver(
                [(r["w"], int(r["wc"])) for r in rows], n_merges
            )
            return spark.createDataFrame(
                merges, "merge_rank int, left string, right string, freq bigint"
            )
    return _train_bpe_merges_distributed(spark, vocab, n_merges)


def _train_bpe_merges_distributed(
    spark: SparkSession, vocab: DataFrame, n_merges: int
) -> DataFrame:
    """The fully distributed merge loop: every training round is a
    vocab-sized pair count + a vocab-sized projection, with the
    segmentation frame eagerly localCheckpointed per round so lineage
    never stacks across rounds.  Only one (pair, freq) row crosses the
    driver per round."""
    segs = checkpoint(
        vocab.select(
            "w",
            "wc",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("seg"),
        ).filter(F.size("seg") >= 2)  # single-char words can never pair
    )
    merges: list[tuple[int, str, str, int]] = []
    pair_expr = (
        "transform(sequence(1, size(seg) - 1), "
        "i -> struct(element_at(seg, i) AS a, element_at(seg, i + 1) AS b))"
    )
    for rnd in range(n_merges):
        top = (
            segs.select("wc", F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wc").cast("bigint").alias("freq"))
            .orderBy(F.col("freq").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, freq = top[0]["a"], top[0]["b"], int(top[0]["freq"])
        merges.append((rnd + 1, a, b, freq))
        prev = segs
        # fully-merged words (one token) can never pair again — drop them
        # so the working set shrinks monotonically; the previous round's
        # checkpoint is released (without it each round leaks a cached
        # frame for the session lifetime)
        segs = checkpoint(
            prev.select("w", "wc", _bpe_merge_once_expr(a, b).alias("seg"))
            .filter(F.size("seg") >= 2)
        )
        release(prev)
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, freq bigint"
    )


def text_bpe_encode_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_bpe_encode driven by the FULLY TRAINED merge table
    (train_bpe_merges) instead of the first-order character-pair counts —
    the production composition: train once, encode the corpus with the
    shipped ranks.  Same vocab-sized Arrow crossing; multi-char merges
    are unambiguous because ranks key on (left, right) token pairs."""
    ranks = {
        (r["left"], r["right"]): int(r["merge_rank"])
        for r in train_bpe_merges(spark, sf_dir).collect()
    }
    return _bpe_encode_with(spark, sf_dir, ranks)


_DECON_BENCH_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark set

# distinct 5-gram shingles over the token array — the decontamination
# grain (verbatim-overlap detection), shared with pipeline/decon_index.py
_FIVEGRAMS = (
    "CASE WHEN size(arr) >= 5 THEN "
    "array_distinct(transform(sequence(1, size(arr) - 4), "
    "i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1), "
    "element_at(arr, i + 2), element_at(arr, i + 3), element_at(arr, i + 4)))) "
    "ELSE array() END"
)


def decontaminate_ngram(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 5-gram
    with a (deterministic) held-out benchmark subset of the corpus.

    Scale: benchmark shingles are the small side — broadcast to a semi-ish
    join keyed by the shingle string; the training side streams through
    with one (doc_id)-keyed aggregate.  At a real 100 TB run the benchmark
    set (eval suites) is tiny by construction, so broadcast always fits.
    ``docs`` optionally supplies the shared pre-tokenized (doc_id, arr)
    checkpoint so composing pipelines tokenize once.
    """
    if docs is None:
        # tokenize ONCE for the bench/train/totals consumers
        docs = _tokenized_arr(spark, sf_dir)
    sh = docs.select("doc_id", F.explode(F.expr(_FIVEGRAMS)).alias("sh"))
    bench = (
        sh.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
        .select("sh")
        .distinct()
    )
    train = sh.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
    hits = (
        train.join(F.broadcast(bench), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        totals.join(hits, "doc_id", "left")
        .fillna(0, ["n_overlap"])
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(F.col("n_overlap") / F.greatest(F.col("n_shingles"), F.lit(1)), 4).alias(
                "contam_frac"
            ),
            (F.col("n_overlap") > 0).cast("int").alias("contaminated"),
        )
    )


# Near-dup decontamination threshold: the corpus-wide near-dup bar (0.5
# Jaccard, the _exact_jaccard_pairs cut) applied against the benchmark
# split — a training doc this close to an eval item is a paraphrase-level
# leak even when no verbatim 5-gram survives decontaminate_ngram's test.
_DECON_JACC_TAU = 0.5


def decontaminate_jaccard(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Near-duplicate benchmark decontamination: score every training doc
    by its best word-shingle Jaccard similarity against the (deterministic)
    held-out benchmark subset, and flag docs at or above the near-dup bar.
    Complements decontaminate_ngram (exact 5-gram overlap — verbatim leaks)
    with the fuzzy case: a lightly edited copy of an eval item shares few
    verbatim 5-gram runs but keeps most of its 3-shingle set.

    Scale: shingles are df-capped (``_MAX_SHINGLE_DF``, the corpus-wide
    near-dedup discipline) BEFORE the split so one boilerplate shingle
    can't blow up the probe join; the benchmark side — eval suites, tiny
    by construction at a real run — is broadcast, so the training side
    streams through one equality join keyed by the shingle string plus a
    (doc_id, bench_id)-keyed aggregate.  Candidate fan-out per training
    doc is bounded by its shingle count × the df cap.  No UDFs.
    ``docs`` optionally supplies the shared pre-tokenized (doc_id, arr)
    checkpoint so composing pipelines tokenize once.
    """
    if docs is None:
        # tokenize ONCE for the sizes/bench/train consumers
        docs = _tokenized_arr(spark, sf_dir)
    sh = _shingle_rows(spark, sf_dir, max_df=_MAX_SHINGLE_DF, docs=docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    bench = sh.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "sh"
    )
    bench_sizes = sizes.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), F.col("n_sh").alias("nb")
    )
    train = sh.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
    inter = (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_inter"))
    )
    # unrounded IEEE double for the argmax ordering (bench_id breaks exact
    # ties deterministically); the reported score rounds to 4
    jac = (
        inter.join(sizes, "doc_id")
        .join(F.broadcast(bench_sizes), "bench_id")
        .withColumn(
            "jacc", F.col("n_inter") / (F.col("n_sh") + F.col("nb") - F.col("n_inter"))
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jacc"), F.asc("bench_id"))
    best = (
        jac.withColumn("n_candidates", F.count("*").over(Window.partitionBy("doc_id")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_candidates", F.col("bench_id").alias("best_match"), "jacc")
    )
    return (
        sizes.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("long")).alias("n_candidates"),
            F.coalesce(F.col("best_match"), F.lit(-1).cast("long")).alias("best_match"),
            F.round(F.coalesce(F.col("jacc"), F.lit(0.0)), 4).alias("max_jaccard"),
            (F.coalesce(F.col("jacc"), F.lit(0.0)) >= _DECON_JACC_TAU)
            .cast("int")
            .alias("contaminated"),
        )
    )


def docs_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-order assignment: rank
    every doc by md5(seed || doc_id) — reproducible across engines and
    runs, unlike rand().  md5 (not xxhash64) so DuckDB reproduces the
    exact order for the oracle.

    Scale: a naive `row_number() OVER (ORDER BY key)` collapses to an
    Exchange SinglePartition — every row through one task.  Instead:
    two-phase rank.  Phase 1 ranks within 256 buckets (first md5 byte —
    uniform by construction) under hashpartitioning; phase 2 adds each
    bucket's global offset, a 256-row cumulative sum broadcast back.  The
    only single-partition work is over the 256 offset rows.
    """
    return _md5_shuffle_rank(_docs(spark, sf_dir))


def _md5_shuffle_rank(
    d: DataFrame, *extra_cols: str, cumsum_col: str | None = None
) -> DataFrame:
    """Two-phase deterministic global rank by md5(seed || doc_id) over any
    DataFrame with a doc_id column (see docs_global_shuffle for the scale
    argument); ``extra_cols`` are carried through.

    With ``cumsum_col`` set (must name a column of ``d``), also emits
    ``cum_start`` — the exclusive prefix sum of that column in shuffle
    order — using the SAME two-phase trick: a per-bucket running sum under
    hashpartitioning plus a broadcast 256-row bucket-offset table, so the
    global prefix sum never funnels through a SinglePartition exchange.
    """
    key = F.md5(F.encode(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")), "utf-8"))
    cols = list(extra_cols)
    if cumsum_col is not None and cumsum_col not in cols:
        cols.append(cumsum_col)
    keyed = d.select("doc_id", *cols).withColumn("shuffle_key", key).withColumn(
        "bkt", F.substring("shuffle_key", 1, 2)
    )
    aggs = [F.count("*").alias("n")]
    if cumsum_col is not None:
        aggs.append(F.sum(cumsum_col).alias("wsum"))
    counts = keyed.groupBy("bkt").agg(*aggs)
    # 256 rows: the unbounded-preceding window over them is trivially cheap
    prior = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "bkt_offset", F.coalesce(F.sum("n").over(prior), F.lit(0))
    )
    off_cols = ["bkt", "bkt_offset"]
    if cumsum_col is not None:
        offsets = offsets.withColumn(
            "bkt_woffset", F.coalesce(F.sum("wsum").over(prior), F.lit(0))
        )
        off_cols.append("bkt_woffset")
    offsets = offsets.select(*off_cols)
    w = Window.partitionBy("bkt").orderBy("shuffle_key", "doc_id")
    ranked = keyed.withColumn("bkt_rank", F.row_number().over(w))
    out_cols = [
        F.col("doc_id"),
        *[F.col(c) for c in cols],
        F.col("shuffle_key"),
        # long: an int rank raises under ANSI past 2^31-1 docs — a
        # bound a 100 TB corpus plausibly exceeds (oracle is BIGINT)
        (F.col("bkt_offset") + F.col("bkt_rank")).cast("long").alias("shuffle_rank"),
    ]
    if cumsum_col is not None:
        ranked = ranked.withColumn(
            "bkt_cum", F.sum(cumsum_col).over(w) - F.col(cumsum_col)
        )
        out_cols.append(
            (F.col("bkt_woffset") + F.col("bkt_cum")).cast("long").alias("cum_start")
        )
    return ranked.join(F.broadcast(offsets), "bkt").select(*out_cols)


def boilerplate_strip(
    df: DataFrame,
    key_cols: list[str],
    corpus_col: str,
    text_col: str = "text",
    min_df: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate line removal (the CCNet/RefinedWeb trick):
    a line whose trimmed form appears in ≥ ``min_df`` distinct containers
    (``corpus_col`` values — conversations, domains, …) is template
    chrome, not content; strip it from every document and rebuild the
    survivors in original order.  This is the cross-document complement to
    the per-document DOM text-density heuristic in kernel/html_extract.py:
    the DOM pass cannot see that a perfectly text-dense line repeats on
    every page of a site.

    Returns one row per ``key_cols`` group: ``clean_text`` (surviving
    lines joined by \\n), ``n_lines``, ``n_removed``.

    Scale: posexplode → one hash aggregate keyed by the trimmed line
    (partial map-side combine collapses hot template lines to one row per
    map partition before the shuffle) → the high-df slice is broadcast
    back as a membership join (bounded: only lines crossing the df
    threshold ship) → one groupBy(key_cols) rebuild.  The fat text column
    crosses exactly two shuffles (explode→rebuild), same as any
    reassembly; no UDFs anywhere.  If the boilerplate slice ever outgrows
    broadcast range (a 100 TB crawl with millions of template lines),
    swap F.broadcast for a plain equality join — the plan stays keyed,
    never cartesian.
    """
    # posexplode_outer: a NULL-text row must survive as an empty document,
    # not vanish from the output.  Split on \r?\n and trim space/tab/CR so
    # CRLF documents and tab-indented variants of the same template line
    # share one df key (the rebuilt text is normalized to \n endings).
    lines = df.select(
        *key_cols,
        F.col(corpus_col).alias("_corpus"),
        F.posexplode_outer(F.split(F.col(text_col), "\r?\n")).alias("pos", "line"),
    ).withColumn("norm", F.expr("trim(BOTH ' \t\r' FROM line)"))
    bp = (
        lines.where(F.col("norm") != "")
        .groupBy("norm")
        .agg(F.countDistinct("_corpus").alias("line_df"))
        .where(F.col("line_df") >= min_df)
        .select("norm", "line_df")
    )
    flagged = lines.join(F.broadcast(bp), "norm", "left")
    return flagged.groupBy(*key_cols).agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list("
                "CASE WHEN line_df IS NULL THEN struct(pos, line) END)), s -> s.line)"
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("line_df").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
    )


def dedup_clusters(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Connected components over the near-duplicate pair graph (the step
    that turns pairwise dedup output into keep-one-per-cluster decisions):
    iterative min-label propagation to a fixpoint.

    Scale: each iteration is one shuffle join keyed by doc_id (the classic
    large-graph CC loop — converges in graph-diameter iterations, and dup
    graphs are shallow); only a single scalar (the change count) crosses
    the driver per iteration.  Oracle: DuckDB recursive-CTE transitive
    closure — exponential in path count, viable only at oracle scale.
    """
    return _connected_components(dedup_ngram_jaccard(spark, sf_dir, docs=docs))


def dedup_minhash_clusters(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """dedup_clusters' 100 TB front end: the SAME connected-components
    fixpoint, but with the pair graph coming from MinHash-LSH band-key
    candidates (verified by exact Jaccard on candidates only) instead of
    the exact all-shingle self-join — the composition a production dedup
    actually runs, since exact pair generation is the one stage that
    cannot scale.  Rows-only check (xxhash64 family); pinned row-for-row
    against dedup_clusters in pytest (on the test corpora LSH recall at
    j ≥ 0.5 is total, so the graphs — and therefore the clusters — agree).
    """
    return _connected_components(dedup_minhash_lsh(spark, sf_dir, docs=docs))


# rounds of plain neighbor-min before the pointer jump engages: shallow
# (clique-shaped) dup graphs converge within the grace and never pay the
# second join; deeper chains still get O(log diameter) afterwards
_CC_JUMP_GRACE = 2


def _connected_components(
    pairs: DataFrame, max_rounds: int | None = None
) -> DataFrame:
    """Min-label-propagation CC with pointer jumping (path halving) over an
    undirected (doc_a, doc_b) pair frame; see dedup_clusters for the
    scale/oracle story.

    Each round does (1) the classic neighbor-min step — label(v) <-
    min(label(v), min over neighbors) — then, from round
    ``_CC_JUMP_GRACE + 1`` on, (2) a pointer jump — label(v) <-
    label(label(v)).  Step 1 alone converges in graph-diameter rounds,
    which is fine for clique-shaped dup clusters but O(chain length)
    shuffles for the long near-dup CHAINS templated web text actually
    produces (A~B~C~... with no direct A~C edge); the jump halves every
    label path per round, giving O(log diameter) rounds total
    (Shiloach-Vishkin style).  The two-round grace period skips the jump
    join while shallow graphs — the overwhelmingly common case, since
    near-dup clusters are clique-shaped — converge on neighbor-min
    alone, so they never pay the second join per round; a chain that is
    still changing after the grace gets the full halving and keeps the
    logarithmic bound (grace + log2(diameter) + 1 rounds).  Labels only
    ever decrease and only ever hold ids from the same component
    (neighbor labels and label-of-label both stay in-component), so the
    fixpoint — no change anywhere — still forces label(u) = label(v)
    across every edge, i.e. the component min.  The logarithmic bound is
    pinned by ``test_cc_pointer_jumping_rounds`` on a 256-node path
    graph.

    ``max_rounds`` (tests only) raises if convergence takes longer —
    the guard that the jump is actually doing its job.
    """
    # persist the DIRECTED pairs before symmetrizing: the two union
    # branches below are otherwise two independent scans of the pair
    # subtree, i.e. the whole candidate-generation pipeline (LSH bands +
    # verify join, or the exact shingle self-join) would run twice just
    # to build the edge list
    pairs = pairs.select("doc_a", "doc_b").persist()
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )
    edges = edges.persist()
    rounds = 0
    while True:
        rounds += 1
        if max_rounds is not None and rounds > max_rounds:
            raise RuntimeError(
                f"connected components did not converge in {max_rounds} rounds"
            )
        neigh = (
            edges.join(labels, edges.doc_a == labels.doc_id)
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(neigh, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                "label"
            ),
        )
        if rounds > _CC_JUMP_GRACE:
            # pointer jump: label(v) <- label(label(v)).  Every label is
            # the doc_id of a node inside the labels frame (labels start
            # as self and only ever move to another in-component node's
            # id), so the left join hits except transiently; coalesce
            # keeps it total.
            jump = stepped.select(
                F.col("doc_id").alias("jkey"), F.col("label").alias("jlabel")
            )
            new_labels = (
                stepped.join(jump, stepped.label == jump.jkey, "left")
                .withColumn("label", F.least("label", F.coalesce("jlabel", "label")))
                .select(
                    "doc_id",
                    "label",
                    (F.col("label") < F.col("old")).cast("long").alias("chg"),
                )
            )
        else:
            new_labels = stepped.select(
                "doc_id",
                "label",
                (F.col("label") < F.col("old")).cast("long").alias("chg"),
            )
        # localCheckpoint (eager) both materializes the round AND truncates
        # lineage — without it the logical plan grows by one join per
        # iteration (a 21k-line plan by convergence; planning time and
        # driver memory scale with iterations).  On a production cluster
        # prefer checkpoint() with a checkpoint dir for fault tolerance.
        new_labels = checkpoint(new_labels)
        changed = new_labels.agg(F.sum("chg")).collect()[0][0] or 0
        labels.unpersist()  # the persisted round-0 labels
        if rounds > 1:
            release(prev)  # the previous round's checkpoint
        prev = new_labels
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    edges.unpersist()  # the symmetrized pair graph is the largest cached
    # intermediate here — without this every CC invocation leaks it for
    # the session lifetime (4+ invocations per full gate run)
    pairs.unpersist()
    w = Window.partitionBy("label")
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
    )


def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline a training run actually executes, as
    one Catalyst plan: repetition-quality filter (gopher_pass) ∧ near-dup
    cluster survivorship (keep-best) → deterministic training-order rank.

    Scale: each leg keeps its own documented plan shape (doc_id-keyed
    aggregates, CC loop, broadcast offsets); the composition joins on
    doc_id only — the fat text column is consumed inside each leg and
    never crosses a join.
    """
    _passed, _dropped, ranked = _curate_parts(spark, sf_dir)
    return ranked


def corpus_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation decision with EVERY batch filter family composed, as
    one Catalyst plan: repetition quality (gopher_pass) ∧ LM perplexity
    (drop the worst tercile — CCNet's head/middle selection) ∧ near-dup
    cluster survivorship → deterministic training-order rank.  The
    end-to-end CCNet/Gopher-style pipeline, value-verified against a
    single DuckDB query.

    Scale: the three filter legs are each doc_id-keyed aggregates over
    their own scan (AQE reuses the shared tokenize exchanges where the
    shapes coincide); the composition joins on doc_id only — fat text
    never crosses a join."""
    # _curate_parts is THE single definition of the gopher ∧ survivor
    # composition (shared with corpus_curate and the run_curate CLI) —
    # this op only adds the LM leg on top; all three filter legs consume
    # the ONE shared tokenized checkpoint (tokenize once, not per leg)
    docs = _tokenized_docs(spark, sf_dir)
    passed, dropped, _ranked = _curate_parts(spark, sf_dir, docs=docs)
    lm_ok = text_perplexity(spark, sf_dir, docs=docs).filter(
        F.col("ppl_bucket") != "tail"
    ).select("doc_id")
    curated = (
        passed.join(lm_ok, "doc_id").join(dropped, "doc_id", "left_anti")
    )
    return _md5_shuffle_rank(curated, "n_tokens")


def corpus_curate_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_curate_full with the DSIR importance gate composed in — the
    curation decision with every batch filter family this engine ships:
    repetition quality (gopher_pass) ∧ LM perplexity (drop the worst
    tercile) ∧ near-dup cluster survivorship ∧ DSIR target-leaning
    (rounded log_w > 0, Xie et al.) → deterministic training-order rank.
    The ``run_curate --lm-filter --dsir-filter`` CLI composes the same
    legs operationally; this op value-verifies the four-way decision as
    ONE DuckDB query.

    Scale: identical to corpus_curate_full plus DSIR's two bounded legs
    (≤B-bucket LM aggregate, broadcast λ, doc-keyed sum); all four filter
    legs consume the ONE shared tokenized checkpoint, and the composition
    joins on doc_id only — fat text never crosses a join."""
    docs = _tokenized_docs(spark, sf_dir)
    passed, dropped, _ranked = _curate_parts(spark, sf_dir, docs=docs)
    lm_ok = text_perplexity(spark, sf_dir, docs=docs).filter(
        F.col("ppl_bucket") != "tail"
    ).select("doc_id")
    dsir_ok = docs_dsir_weights(spark, sf_dir, docs=docs).filter(
        F.col("keep") == 1
    ).select("doc_id")
    curated = (
        passed.join(lm_ok, "doc_id")
        .join(dsir_ok, "doc_id")
        .join(dropped, "doc_id", "left_anti")
    )
    return _md5_shuffle_rank(curated, "n_tokens")


def corpus_curate_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_curate_dsir with the DECONTAMINATION gate composed in — the
    complete production curation decision: repetition quality ∧ LM
    perplexity tercile ∧ near-dup cluster survivorship ∧ DSIR
    target-leaning ∧ benchmark hygiene.  The last family drops (a) the
    held-out benchmark split itself — eval items are never training
    data — (b) any doc sharing a verbatim 5-gram with it
    (decontaminate_ngram), and (c) any near-dup paraphrase of it at the
    shingle-Jaccard bar (decontaminate_jaccard).  Five filter families,
    value-verified as ONE DuckDB query.

    Scale: identical to corpus_curate_dsir plus the two decon legs — a
    broadcast 5-gram semi-join and the df-capped, broadcast-bench
    Jaccard probe; all six legs consume the ONE shared tokenized
    checkpoint, and the composition joins on doc_id only — fat text
    never crosses a join."""
    docs = _tokenized_docs(spark, sf_dir)
    passed, dropped, _ranked = _curate_parts(spark, sf_dir, docs=docs)
    lm_ok = text_perplexity(spark, sf_dir, docs=docs).filter(
        F.col("ppl_bucket") != "tail"
    ).select("doc_id")
    dsir_ok = docs_dsir_weights(spark, sf_dir, docs=docs).filter(
        F.col("keep") == 1
    ).select("doc_id")
    decon_exact_bad = decontaminate_ngram(spark, sf_dir, docs=docs).filter(
        F.col("contaminated") == 1
    ).select("doc_id")
    decon_jac_bad = decontaminate_jaccard(spark, sf_dir, docs=docs).filter(
        F.col("contaminated") == 1
    ).select("doc_id")
    curated = (
        passed.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
        .join(lm_ok, "doc_id")
        .join(dsir_ok, "doc_id")
        .join(dropped, "doc_id", "left_anti")
        .join(decon_exact_bad, "doc_id", "left_anti")
        .join(decon_jac_bad, "doc_id", "left_anti")
    )
    return _md5_shuffle_rank(curated, "n_tokens")


def _tokenized_docs(
    spark: SparkSession, sf_dir: str, with_text: bool = True
) -> DataFrame:
    """ONE eager-localCheckpointed (doc_id[, text], arr) frame shared by
    every leg of a composed curation plan: the regex tokenize — the most
    expensive expression in the pipeline — runs once per corpus scan
    instead of once per leg (gopher's aggregates, keep_best's quality
    score, and curate_full's LM leg all consume it).  Values are
    unchanged; only the compute-once guarantee is added (the legs'
    differently-keyed aggregates can never share an exchange, so AQE
    cannot provide it).  ``with_text=False`` (the _tokenized_arr face)
    drops the fat text column for consumers that only shingle."""
    cols = ["doc_id", "text"] if with_text else ["doc_id"]
    return checkpoint(_docs(spark, sf_dir).select(*cols, F.expr(_TOKS).alias("arr")))


def _curate_parts(
    spark: SparkSession,
    sf_dir: str,
    clusters: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The single definition of the curation composition, shared by
    ``corpus_curate`` (the gate query) and the ``run_curate`` CLI so the
    operational path can never drift from the oracled one.  Returns
    ``(passed, dropped_dup, ranked)`` so the CLI can persist + count the
    intermediate stages for its metrics line.

    ``clusters`` overrides the near-dup pair source (e.g. MinHash-LSH
    candidates from ``dedup_minhash_clusters``); default is the exact
    df-capped shingle join via ``dedup_clusters``.  ``docs`` optionally
    supplies the shared tokenized checkpoint (created here when absent).
    """
    if docs is None:
        docs = _tokenized_docs(spark, sf_dir)
    passed = text_gopher_quality(spark, sf_dir, docs=docs).filter(
        F.col("gopher_pass") == 1
    ).select("doc_id", "n_tokens")
    # ONE connected-components fixpoint feeds both the membership test and
    # the survivor choice: the CC driver loop is the most expensive stage
    # here, and dedup_cluster_keep_best would otherwise re-run it from
    # scratch (the labels frame is localCheckpointed, so reuse is free)
    if clusters is None:
        clusters = dedup_clusters(spark, sf_dir, docs=docs).select(
            "doc_id", "cluster_id"
        )
    keepers = dedup_cluster_keep_best(
        spark, sf_dir, clusters=clusters, docs=docs
    ).select(F.col("keep_doc_id").alias("doc_id"))
    # clustered docs that are NOT their cluster's survivor get dropped
    dropped = clusters.join(keepers, "doc_id", "left_anti").select("doc_id")
    curated = passed.join(dropped, "doc_id", "left_anti")
    return passed, dropped, _md5_shuffle_rank(curated, "n_tokens")


def text_length_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of text_length_stats: approx_percentile (a mergeable
    t-digest-style sketch — map-side partials, constant-size merge) instead
    of exact percentile's per-group sort.  Rows-only check (sketch output
    is implementation-defined); the ±1% accuracy band vs the exact op is
    pinned in pytest."""
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("approx_percentile(n_chars, 0.5, 10000)"), 2).alias("p50_chars"),
        F.round(F.expr("approx_percentile(n_chars, 0.9, 10000)"), 2).alias("p90_chars"),
    )


def dedup_cluster_keep_best(
    spark: SparkSession,
    sf_dir: str,
    clusters: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end near-dup dedup DECISION: pair graph → connected
    components → keep the best-quality doc per cluster (doc_id tie-break),
    emit survivor + displaced count — what a training pipeline actually
    writes back.

    Scale: clusters from the iterative CC loop (see dedup_clusters); the
    survivor choice is one window over cluster_id — cluster sizes are
    bounded by real-world dup multiplicity, so the per-partition sort is
    tiny.  Quality is the text_quality composite, unrounded (ranking only).
    A composed pipeline (corpus_curate) passes its own precomputed
    ``clusters`` frame so the CC fixpoint runs exactly once per plan.
    """
    if clusters is None:
        clusters = dedup_clusters(spark, sf_dir)
    clusters = clusters.select("doc_id", "cluster_id")
    d = (
        docs
        if docs is not None
        else _docs(spark, sf_dir).select(
            "doc_id", "text", F.expr(_TOKS).alias("arr")
        )
    )
    scored = d.select(
        "doc_id",
        _quality_expr().alias("q"),
    )
    j = clusters.join(scored, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("q").desc(), F.col("doc_id"))
    ranked = j.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc_id"),
        (F.count("*") - 1).alias("n_discarded"),
        F.round(F.max("q"), 4).alias("best_quality"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_DOT = "aggregate(zip_with(qv, nv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def _emb_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb(spark, sf_dir).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).withColumn("nrm", F.expr("sqrt(aggregate(transform(v, x -> x * x), 0D, (acc, x) -> acc + x))"))


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id % 50 == 0).

    Scale: broadcast the (small) query set against the full corpus — one
    scan, no shuffle of the big side; ranking is a per-query window.  The
    100 TB path is sim_ann_lsh (bucketed candidates).
    """
    e = _emb_norm(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    j = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nnrm")).crossJoin(
        F.broadcast(q)
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    j = j.withColumn("cos_sim", F.round(F.expr(_DOT) / (F.col("qnrm") * F.col("nnrm")), 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# --- multi-band random-hyperplane sign-LSH ---------------------------------
#
# Band structure mirrors dedup_minhash_lsh: _SIGNLSH_BANDS independent
# bands, each hashing the vector to a _SIGNLSH_BITS-bit key (one sign bit
# per random hyperplane); candidates are the UNION over bands of same-key
# equality joins.  Random ±1 (Rademacher) hyperplanes — not axis dims — so
# correlated leading dimensions cannot collapse the key space, and the
# coefficients inline as exact integer literals into BOTH the Spark
# expression and the DuckDB oracle (identical left-associated double
# arithmetic ⇒ bit-identical sign decisions ⇒ oracle value-hash parity).
#
# Scale: per-band bucket count is 2^bits; at the gate corpora (500–2000
# vectors) 8 bits keeps occupancy at a few vectors per bucket.  At 10^11
# vectors use recommended_signlsh_bits() (≈ log2(n / occupancy) → 24–31
# bits) — the band-key join shape is unchanged, only the literal bit count
# grows, and per-bucket work stays O(occupancy²), never O((n/256)²).

_SIGNLSH_BANDS = 8
_SIGNLSH_BITS = 8
_EMB_DIM = 64  # the embeddings-table dim (TESTDATA.md); hyperplanes are sized to it


def recommended_signlsh_bits(n_vectors: int, target_occupancy: int = 64) -> int:
    """Bits per band so the expected per-band bucket occupancy is
    ``target_occupancy``: verification work per bucket is O(occupancy²)
    regardless of corpus size.  10^11 vectors / occupancy 64 → 31 bits."""
    import math

    if n_vectors <= target_occupancy:
        return _SIGNLSH_BITS
    return max(_SIGNLSH_BITS, math.ceil(math.log2(n_vectors / target_occupancy)))


def _signlsh_hyperplanes(
    n_bands: int = _SIGNLSH_BANDS, n_bits: int = _SIGNLSH_BITS, dim: int = _EMB_DIM, seed: int = 0x5EED
) -> list[list[list[int]]]:
    """[band][bit] -> +/-1 coefficient vector, from a deterministic LCG (no
    platform-dependent RNG; the same stream feeds Spark and the oracle)."""
    x = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_bands):
        band = []
        for _ in range(n_bits):
            coeffs = []
            for _ in range(dim):
                x = (1103515245 * x + 12345) & 0x7FFFFFFF
                coeffs.append(1 if (x >> 16) & 1 else -1)
            band.append(coeffs)
        planes.append(band)
    return planes


# The hyperplane matrix renders as a LITERAL array-of-arrays in both
# dialects; Catalyst constant-folds it to a single Literal node, so the
# plan stays small (the naive +/- expansion was a 4096-node tree per band
# that blew the 64KB Janino codegen limit and fell back to interpreted
# eval).  The sign bit is the fold aggregate(zip_with(v, c, *)) >= 0 in
# Spark and list_sum(list_transform(range, v[i]*c[i])) >= 0 in DuckDB —
# the same left-to-right double summation (the proven-parity _DOT /
# _SQL_DOT pattern), so the sign decision cannot diverge between engines.


def _hp_spark_literal(n_bands: int, n_bits: int, dim: int) -> str:
    planes = _signlsh_hyperplanes(n_bands, n_bits, dim)
    return "array(%s)" % ", ".join(
        "array(%s)" % ", ".join("%d.0D" % c for c in bit)
        for band in planes
        for bit in band
    )


def _hp_duck_literal(n_bands: int, n_bits: int, dim: int) -> str:
    planes = _signlsh_hyperplanes(n_bands, n_bits, dim)
    return "[%s]" % ", ".join(
        "[%s]" % ", ".join("%d.0" % c for c in bit)
        for band in planes
        for bit in band
    )


def _spark_signbits_expr(n_bands: int, n_bits: int, dim: int) -> str:
    """Int array of n_bands*n_bits sign bits for vector column v."""
    return (
        "transform(%s, c -> IF(aggregate(zip_with(v, c, (x, y) -> x * y), 0D, "
        "(acc, x) -> acc + x) >= 0, 1, 0))" % _hp_spark_literal(n_bands, n_bits, dim)
    )


def _spark_bandkeys_expr(n_bands: int, n_bits: int) -> str:
    """Band-key array from the _sb sign-bit column: key = (band << bits) | bits-in-band."""
    return (
        "transform(sequence(0, %d), b -> b * %d + aggregate(sequence(0, %d), 0, "
        "(acc, i) -> acc + shiftleft(element_at(_sb, b * %d + i + 1), i)))"
        % (n_bands - 1, 1 << n_bits, n_bits - 1, n_bits)
    )


def _duck_signbits_expr(n_bands: int, n_bits: int, dim: int) -> str:
    return (
        "list_transform(%s, c -> CASE WHEN list_sum(list_transform(range(1, %d), "
        "i -> v[i] * c[i])) >= 0 THEN 1 ELSE 0 END)"
        % (_hp_duck_literal(n_bands, n_bits, dim), dim + 1)
    )


def _duck_bandkeys_expr(n_bands: int, n_bits: int) -> str:
    return (
        "list_transform(range(0, %d), b -> b * %d + list_sum(list_transform(range(0, %d), "
        "i -> sb[b * %d + i + 1] * (1 << i))))"
        % (n_bands, 1 << n_bits, n_bits, n_bits)
    )


def signlsh_band_keys(e: DataFrame, n_bands: int = _SIGNLSH_BANDS,
                      n_bits: int = _SIGNLSH_BITS, dim: int = _EMB_DIM) -> DataFrame:
    """Explode a normalized embedding frame (vec_id, v, nrm, ...) into one
    row per (vector, band) with the band's sign-LSH key — the shared
    candidate-generation front end for sim_ann_lsh / dedup_embedding_cosine
    and the planted-near-dup recall pin in tests."""
    clash = {"_sb", "band_key"} & set(e.columns)
    if clash:
        raise ValueError(
            "signlsh_band_keys scratch/output column collision: %s" % sorted(clash)
        )
    return (
        e.withColumn("_sb", F.expr(_spark_signbits_expr(n_bands, n_bits, dim)))
        .withColumn("band_key", F.explode(F.expr(_spark_bandkeys_expr(n_bands, n_bits))))
        .drop("_sb")
    )


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band sign-LSH ANN: candidates are vectors sharing ANY of the
    8 random-hyperplane band keys with the query (union of equality joins,
    exactly dedup_minhash_lsh's band structure), ranked top-3 by exact
    cosine.  This is the scale path: shuffle keys are band keys, never an
    O(n²) cross join, and per-bucket occupancy is tuned by the bit count
    (recommended_signlsh_bits at production scale)."""
    base = _emb_norm(spark, sf_dir)
    # eager localCheckpoint (the sim_ann_ivfpq pattern): the q-leg filter
    # makes the two band-key consumers plan-distinct, so AQE exchange
    # reuse does NOT fire (verified: 0 ReusedExchange) — without the
    # checkpoint each leg re-runs the 64 hyperplane dot products per
    # vector AND Janino re-compiles the giant literal-hyperplane HOF per
    # branch (the dominant cost at gate scale: 4.5s cold vs 0.13s warm)
    e = checkpoint(signlsh_band_keys(base))
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "band_key"
    )
    n = e.select(F.col("vec_id").alias("neighbor_id"), "band_key")
    cand = (
        q.join(n, "band_key")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = base.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm"))
    nv = base.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nnrm"))
    j = cand.join(qv, "query_id").join(nv, "neighbor_id")
    j = j.withColumn("cos_sim", F.round(F.expr(_DOT) / (F.col("qnrm") * F.col("nnrm")), 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


_N_CELLS = 16
_N_PROBE = 2       # plain-IVF gate default (oracle-pinned — don't touch)
_N_PROBE_PQ = 4    # IVFPQ family default: 4 of 16 cells at gate scale


def recommended_ivf_cells(n_vectors: int, n_probe: int = _N_PROBE_PQ) -> int:
    """Cell count balancing the two scan costs of an IVF query: assigning
    the query reads all ``cells`` centroids, probing reads
    ``n_probe · n/cells`` candidates — total minimized at
    ``cells = sqrt(n_probe · n)`` (the FAISS nlist ≈ k·√n guidance with
    the probe width made explicit).  10^9 vectors, 4 probes → ~63k cells
    with ~16k vectors per cell; the cell-keyed join shape is unchanged,
    only the broadcast codebook grows (cells × dim doubles — 32 MB
    there, still a broadcast).  Floor at the gate default so tiny
    corpora keep observable occupancy."""
    import math

    return max(_N_CELLS, math.ceil(math.sqrt(max(n_vectors, 1) * n_probe)))


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer cells + nprobe=2 search.

    Cells are seeded deterministically by the first 16 vectors (a stand-in
    for a k-means codebook — at scale the codebook is trained once with
    parallel k-means and broadcast, the search below is unchanged).  Every
    vector is assigned to its max-cosine cell (broadcast join against 16
    centroids — one scan, no shuffle of the corpus); a query probes its 2
    nearest cells and ranks candidates by exact cosine within them.  The
    inverted-file partitioning is what survives 100 TB: candidate joins key
    on cell id, never a cross join against the corpus.
    """
    e = _emb_norm(spark, sf_dir)
    # the stand-in codebook is 16 corpus vectors: collect them (k x dim
    # floats — the same driver crossing the trained path's k-means loop
    # makes) so the search can fold them into literal arrays.  nrm is
    # collected too, not recomputed, so cell cosines are bit-identical
    # to the corpus-side nrm the oracle computes.
    rows = (
        e.filter(F.col("vec_id") < _N_CELLS).select("vec_id", "v", "nrm").collect()
    )
    cents = [(int(r["vec_id"]), list(r["v"]), float(r["nrm"])) for r in rows]
    return _ivf_search(e, cents)


def sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ann_ivf with a genuinely TRAINED codebook: Lloyd's k-means
    (train_kmeans_centroids — the same distributed loop behind
    embed_kmeans) replaces the first-16-vector stand-in, then the
    identical broadcast-assign / nprobe search runs against it.  This is
    the production composition: train once (only k x dim floats ever
    cross the driver per iteration), broadcast the codebook, search with
    cell-keyed joins.  Pytest-pinned: the trained codebook's inertia
    beats the stand-in's on the test corpus, and recall vs the exact
    brute-force top-k does not regress."""
    e = _emb_norm(spark, sf_dir)
    return _ivf_search(e, _trained_coarse(e, iters=3))


def _trained_coarse(
    e: DataFrame, k: int = _N_CELLS, iters: int = 2, seed_mod: int = 7
) -> list[tuple[int, list[float], float]]:
    """k-means-TRAINED coarse quantizer over a (vec_id, v) frame, in the
    (cid, centroid, nrm) shape every cell-assignment consumer takes.
    Centroid norms are computed driver-side with the same left-fold add
    order as the JVM aggregate — IEEE-double identical (Python floats
    ARE IEEE doubles, and the explicit loop folds left).  Shared by
    sim_ann_ivf_trained, sim_ann_ivfpq, and build_ivfpq_index: trained
    cells balance the cell-keyed join (the first-16 stand-in skews hot
    cells into straggler reducers at scale) and lift the recall ceiling
    the probe restriction imposes.  Default iters=2 for the PQ
    compositions: measured recall@3 0.43 at sf0.01 (vs 0.40 at iters=3 —
    the extra Lloyd round does not pay on this corpus) and each round is
    a full assign+agg job whose literal-centroid codegen costs seconds;
    sim_ann_ivf_trained passes iters=3 explicitly (its inertia/recall
    pins were measured there)."""
    import math

    cents = train_kmeans_centroids(
        e.select("vec_id", "v"), k=k, iters=iters, seed_mod=seed_mod
    )
    out = []
    for cid, vec in cents:
        acc = 0.0
        for x in vec:
            acc += x * x
        out.append((cid, vec, math.sqrt(acc)))
    return out


def _cell_top(
    e: DataFrame, cents: list[tuple[int, list[float], float]], n_top: int
) -> DataFrame:
    """Max-cosine cell assignment against a driver-side codebook, as one
    pure array-HOF projection: the codebook (k x dim floats) folds into
    literal arrays, so per-row scoring is no n x k crossJoin and no
    groupBy(vec_id) shuffle — assignment is embarrassingly parallel.
    Returns (vec_id, v, nrm, top) where ``top`` holds the ``n_top``
    best cells as struct(-ccos, cid); sort_array over that struct
    ascending == (ccos desc, cent_id asc), the window-plan tie-break.
    Shared by _ivf_search (n_top = nprobe) and dedup_semantic (n_top=1)."""
    order = sorted(cents)
    cvs = F.array(*[F.array(*[F.lit(float(x)) for x in cv]) for _, cv, _ in order])
    cnrms = F.array(*[F.lit(float(cn)) for _, _, cn in order])
    cids = F.array(*[F.lit(int(cid)) for cid, _, _ in order])
    dots = F.transform(
        cvs,
        lambda c: F.aggregate(
            F.zip_with(F.col("v"), c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, w: acc + w,
        ),
    )
    ccos = F.zip_with(dots, cnrms, lambda d, cn: F.round(d / (F.col("nrm") * cn), 4))
    entries = F.zip_with(
        ccos, cids, lambda c, i: F.struct((-c).alias("negc"), i.alias("cid"))
    )
    # two-step select: the scoring chain is non-cheap and multi-use, so
    # CollapseProject keeps it computed once per row (SPARK-36718)
    return e.select(
        "vec_id", "v", "nrm", F.slice(F.sort_array(entries), 1, n_top).alias("top")
    )


def _ivf_search(
    e: DataFrame,
    cents: list[tuple[int, list[float], float]],
    n_probe: int = _N_PROBE,
) -> DataFrame:
    """Shared IVF search body.  Cell assignment AND probe selection are
    pure array-HOF expressions over ONE corpus scan (_cell_top); no
    Window.partitionBy(vec_id) pass that would shuffle the n x k
    scored rows (vectors included) just to rank 16 candidates per row.
    Candidates still come from the cell-keyed equality join — the
    inverted-file structure that survives 100 TB.  ``n_probe`` is the
    recall/cost knob: queries probe their ``n_probe`` nearest cells."""
    staged = _cell_top(e, cents, n_probe)
    assigned = staged.select(
        "vec_id",
        F.element_at(F.col("top"), 1).getField("cid").alias("cell"),
        "v",
        "nrm",
    )
    probes = staged.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.explode(F.expr("transform(top, x -> x.cid)")).alias("cell"),
    )
    n = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nnrm"), "cell"
    )
    j = probes.join(n, "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    j = j.withColumn("cos_sim", F.round(F.expr(_DOT) / (F.col("qnrm") * F.col("nnrm")), 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "cell")
    )


_PQ_M = 8  # subspaces (dim 64 → 8 dims each)
_PQ_K = 16  # codes per subspace → 8 codes/vector = 32x vs float32


def _pq_sub_d2s(book_col, seg_col):
    """Squared distances from a sub-vector to every sub-centroid of one
    book — THE single distance definition shared by PQ training and
    encoding (divergent copies would corrupt codes with no test seam).
    One-param inner lambda: a two-param lambda would make pyspark pass
    the transform INDEX as the second argument."""
    return F.transform(
        book_col,
        lambda c: F.aggregate(
            F.zip_with(seg_col, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _pq_books_literal(books: list[list[list[float]]]):
    """The m_sub x k x sub codebook as ONE nested literal array (Catalyst
    constant-folds it) — shared rendering for training and search."""
    return F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in book])
            for book in books
        ]
    )


def _train_pq_codebooks(
    e: DataFrame, m_sub: int, k: int, sub: int, iters: int, seed_mod: int
) -> list[list[list[float]]]:
    """Lloyd's k-means for ALL ``m_sub`` product-quantizer subspaces in one
    shot: the (vec_id, v) frame explodes once into (m, sv) sub-vector rows
    (persisted), and each iteration is ONE aggregate job grouped by
    (m, code) — sub per-dim sum aggs + a count — instead of m_sub
    independent training chains.  Only m_sub x k x sub floats cross the
    driver per iteration.  Seeding matches train_kmeans_centroids (first
    k of the every-``seed_mod``-th vectors in vec_id order — no density
    assumption on the ids); a code that loses all members keeps its
    previous centroid."""
    parts = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(F.col("v"), m * sub + 1, sub).alias("sv"),
            )
            for m in range(m_sub)
        ]
    )
    ex = (
        e.select("vec_id", F.explode(parts).alias("p"))
        .select("vec_id", F.col("p.m").alias("m"), F.col("p.sv").alias("sv"))
        .persist()
    )
    try:
        seed_ids = [
            r["vec_id"]
            for r in ex.filter((F.col("vec_id") % seed_mod == 0) & (F.col("m") == 0))
            .select("vec_id")
            .orderBy("vec_id")
            .limit(k)
            .collect()
        ]
        cid_of = {vid: i for i, vid in enumerate(seed_ids)}
        seed_rows = ex.filter(F.col("vec_id").isin(seed_ids)).collect()
        books: list[list[list[float]]] = [[None] * k for _ in range(m_sub)]
        for r in seed_rows:
            books[int(r["m"])][cid_of[r["vec_id"]]] = [float(x) for x in r["sv"]]
        # backstop for corpora with fewer than k qualifying seeds
        for m in range(m_sub):
            for cid in range(k):
                if books[m][cid] is None:
                    books[m][cid] = [0.0] * sub
        for _ in range(iters):
            cb = _pq_books_literal(books)
            d2s = _pq_sub_d2s(F.element_at(cb, F.col("m") + 1), F.col("sv"))
            code = F.array_position(d2s, F.array_min(d2s)).cast("int")
            upd = (
                ex.select("m", code.alias("code"), "sv")
                .groupBy("m", "code")
                .agg(
                    F.count("*").alias("n"),
                    *[
                        F.sum(F.element_at("sv", j + 1)).alias("s%d" % j)
                        for j in range(sub)
                    ],
                )
                .collect()
            )
            for r in upd:
                m, cid, n = int(r["m"]), int(r["code"]) - 1, int(r["n"])
                if n > 0:
                    books[m][cid] = [float(r["s%d" % j]) / n for j in range(sub)]
    finally:
        ex.unpersist()
    return books


def sim_ann_ivfpq(
    spark: SparkSession, sf_dir: str, n_probe: int = _N_PROBE_PQ
) -> DataFrame:
    """IVF + product quantization — the standard shape for ANN over
    100 TB of embeddings (FAISS IVFPQ): coarse cells bound the candidate
    set (inverted file, cell-keyed equality join) and candidates are
    scored from their 8-byte PQ codes via asymmetric distance (query in
    full precision, candidate reconstructed from per-subspace codebooks)
    — the corpus vectors themselves never need to be resident at search
    time (32x compression at these parameters).

    Training: Lloyd's k-means for ALL M subspaces in one exploded frame
    (_train_pq_codebooks — one (m, code)-grouped aggregate job per
    iteration; only M x k x 8 floats cross the driver; M serial chains
    measured 32.6 s vs 6.5 s warm end-to-end for identical codebooks).
    Encoding: one projection of M argmin HOFs over literal sub-codebooks
    (zero shuffle, no n x k join).  Search: ADC as a pure expression —
    the M x k x 8 codebook constant-folds into ONE literal, each
    candidate row carries only its code array — then the standard
    refinement re-ranks the 10-deep shortlist with exact cosine.

    Rows-only (xxhash-free but iterative training + argmin encoding are
    not SQL-expressible at reasonable cost); pinned by pytest: recall@3
    >= 0.5 absolute and >= 0.75x the cell-restriction ceiling (exact
    in-cell search under THIS op's own trained cells and the same
    n_probe), and every returned pair's exact cosine agrees with brute
    force to 1e-4 (normalized-dot vs raw-dot/nrm differ by ulps).
    ``n_probe`` (gate default _N_PROBE_PQ = 4 of 16 cells) is the
    recall/cost knob; size cells with recommended_ivf_cells at
    production corpus counts."""
    sub = _EMB_DIM // _PQ_M
    # PQ quantizes the NORMALIZED vectors: on unit vectors L2² = 2 − 2·cos,
    # so ADC ranking is monotone in cosine — without this the L2 codes
    # rank by magnitude, not similarity (measured: recall@3 0.1 → 0.23)
    raw = _emb_norm(spark, sf_dir)
    e = raw.select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("v"),
        F.lit(1.0).alias("nrm"),
    ).persist()
    try:
        # ALL M subquantizers train together — one exploded (m, subvec)
        # frame, one aggregate job per Lloyd iteration for every subspace
        books = _train_pq_codebooks(e, _PQ_M, _PQ_K, sub, iters=2, seed_mod=13)
        cb = _pq_books_literal(books)
        # encode: per subspace, argmin squared distance over the literal
        # book (the SAME _pq_sub_d2s distance the training loop used)
        code_cols = []
        for m in range(_PQ_M):
            d2s = _pq_sub_d2s(
                F.element_at(cb, m + 1), F.slice(F.col("v"), m * sub + 1, sub)
            )
            code_cols.append(F.array_position(d2s, F.array_min(d2s)).cast("int"))
        # coarse cells: TRAINED k-means centroids (the sim_ann_ivf_trained
        # codebook path) over the normalized frame — trained cells raise
        # the probe-restriction recall ceiling and balance the cell-keyed
        # join (untrained first-k cells skew hot cells at scale)
        coarse = _trained_coarse(e)
        staged = _cell_top(e, coarse, n_probe)
        # eager localCheckpoint (the dedup_clusters pattern): normalize →
        # cell-argmin runs ONCE.  Both search legs otherwise re-derive the
        # whole chain, and the probe explode substitutes the giant
        # literal-codebook expressions into every consumer (the Catalyst
        # explode trap) — and Janino recompiles them per branch.
        staged = checkpoint(staged)
    finally:
        # every downstream consumer reads the checkpoint, not e's lineage
        e.unpersist()
    # neighbors live in their top-1 cell; queries probe their n_probe
    # nearest cells (gate default 4 of 16 — _N_PROBE_PQ)
    n = staged.select(
        F.col("vec_id").alias("neighbor_id"),
        F.element_at(F.col("top"), 1).getField("cid").alias("cell"),
        F.array(*code_cols).alias("codes"),
    )
    q = staged.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode(F.expr("transform(top, x -> x.cid)")).alias("cell"),
    )
    j = q.join(n, "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    # ADC: sum over subspaces of ||q_sub - book[m][code_m]||^2; the only
    # per-candidate data is the tiny code array
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.aggregate(
            F.zip_with(
                F.slice(F.col("qv"), m * sub + 1, sub),
                F.element_at(F.element_at(cb, m + 1), F.element_at(F.col("codes"), m + 1)),
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
    # refine: exact re-rank of the 10-deep ADC shortlist (the standard
    # IVFPQ refinement step) — full vectors are fetched for only
    # n_queries x 10 rows, never for the corpus; read from the
    # checkpointed frame, not e's lineage (one source scan per run)
    nv = staged.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    r = shortlist.join(nv, "neighbor_id").withColumn(
        "cos_sim", F.round(F.expr(_DOT), 4)  # unit vectors: dot == cosine
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        r.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "adc_dist")
    )


_KMEANS_K = 8
_KMEANS_ITERS = 3


def _kmeans_assign(e: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Assign each vector to its nearest centroid with ZERO shuffle.

    Centroids are a driver-side list (k x dim floats — a few KB at any
    corpus size) folded into one literal array-of-arrays (Catalyst
    constant-folds it to a single Literal), so the per-row argmin is a
    pure array-HOF expression: no n x k crossJoin, no groupBy(vec_id)
    shuffle of n x k candidate rows — assignment is embarrassingly
    parallel and only the centroid-UPDATE aggregation in the training
    loop ever shuffles.  Values are bit-identical to the former
    broadcast-join + min_by plan: same left-fold squared distance per
    candidate, and array_position's first-match rule reproduces the
    smallest-cid tie-break (centroids are laid out in ascending cid
    order)."""
    order = sorted(cents)
    cvs = F.array(*[F.array(*[F.lit(float(x)) for x in vec]) for _, vec in order])
    cids = F.array(*[F.lit(int(cid)) for cid, _ in order])
    d2s = F.transform(
        cvs,
        lambda c: F.aggregate(
            F.zip_with(F.col("v"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    # two-step select: d2s is a non-cheap HOF chain referenced three
    # times below — CollapseProject declines to inline non-cheap multi-use
    # aliases (SPARK-36718), so it is computed once per row
    staged = e.select("vec_id", "v", d2s.alias("d2s"))
    pos = F.array_position(F.col("d2s"), F.array_min("d2s")).cast("int")
    return staged.select(
        "vec_id",
        F.element_at(cids, pos).alias("cid"),
        F.array_min("d2s").alias("d2"),
        "v",
    )


def train_kmeans_centroids(
    e: DataFrame,
    k: int = _KMEANS_K,
    iters: int = _KMEANS_ITERS,
    seed_mod: int = 61,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means training loop over a (vec_id, v) frame, returning
    the k x dim centroid list (a few KB — the only thing that ever crosses
    the driver per iteration).  Deterministic seeded init: every
    ``seed_mod``-th vector, first k.  Shared by embed_kmeans (the gate
    query) and sim_ann_ivf_trained (the codebook consumer)."""
    # persist the training projection: every Lloyd iteration (and the
    # seed scan) re-reads it — without the cache that is iters + 1 full
    # source scans + HOF recomputes of the identical frame
    e = e.select("vec_id", "v").persist()
    try:
        seeds = (
            e.filter(F.col("vec_id") % seed_mod == 0).orderBy("vec_id").limit(k).collect()
        )
        cents = [(i, list(r["v"])) for i, r in enumerate(seeds)]
        for _ in range(iters):
            assigned = _kmeans_assign(e, cents)
            rows = (
                assigned.select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
            cents = [
                (cid, [dims[p] for p in sorted(dims)]) for cid, dims in sorted(by_cid.items())
            ]
        return cents
    finally:
        e.unpersist()


def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd's k-means over the embedding column — the canonical
    Spark iterative-algorithm shape: per-iteration work is fully
    distributed (assign = broadcast join + min_by, update = elementwise
    mean via posexplode), only the k x dim centroid table (a few KB)
    returns to the driver between iterations.  Deterministic seeded init
    (every 61st vector).  Rows-only check; invariants (inertia decreases,
    assignments are nearest-centroid) pinned in tests/test_textops.py.
    """
    e = _emb_norm(spark, sf_dir).select("vec_id", "v")
    final = _kmeans_assign(e, train_kmeans_centroids(e))
    return final.groupBy("cid").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.sum("d2"), 3).alias("inertia"),
    )


def embedding_candidate_pairs(e: DataFrame, n_bands: int = _SIGNLSH_BANDS,
                              n_bits: int = _SIGNLSH_BITS, dim: int = _EMB_DIM) -> DataFrame:
    """Distinct (vec_a < vec_b) candidate pairs sharing at least one
    sign-LSH band key — the multi-band self-join front end shared by
    dedup_embedding_cosine and the planted-near-dup recall pytest."""
    banded = signlsh_band_keys(e, n_bands, n_bits, dim).select("vec_id", "band_key")
    a = banded.select(F.col("vec_id").alias("vec_a"), "band_key")
    b = banded.select(F.col("vec_id").alias("vec_b"), "band_key")
    return (
        a.join(b, "band_key")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: cos >= tau with candidates from the
    multi-band random-hyperplane sign-LSH (union of band-key equality
    joins — the scale path: a true near-dup pair at production tau~0.95
    shares an 8-bit band with p~0.43, so missing all 8 bands has p<2%, and
    the bit count scales with corpus size via recommended_signlsh_bits).
    tau=0.3 here because the driver's synthetic embeddings contain no true
    near-duplicates (max pairwise cos ~ 0.45) — production dedup runs
    tau~0.95+ with identical mechanics.  Output (vec_a, vec_b, cos_sim)."""
    e = _emb_norm(spark, sf_dir)
    cand = embedding_candidate_pairs(e)
    av = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm"))
    bv = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("nv"), F.col("nrm").alias("nnrm"))
    j = cand.join(av, "vec_a").join(bv, "vec_b")
    j = j.withColumn("cos_sim", F.round(F.expr(_DOT) / (F.col("qnrm") * F.col("nnrm")), 4))
    return j.filter(F.col("cos_sim") >= 0.3).select("vec_a", "vec_b", "cos_sim")


_SEMDEDUP_TAU = 0.3


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    assign every embedding to its max-cosine coarse cell, then look for
    near-duplicates ONLY within a cell — a vector is dropped when a
    higher-priority (smaller vec_id) cell-mate sits at cos >= tau.
    Output (vec_id, cell, n_dups, keep) — the per-vector keep decision a
    curation pipeline applies, not just the pair list.

    Scale: assignment is a literal-codebook HOF projection (_cell_top —
    zero shuffle, no n x k crossJoin); the only shuffle keys on cell, and
    the pair join is cell-bucketed, so per-reducer work is O(cell_size²),
    never O(n²).  In production k grows with the corpus (k ~ n /
    target_cell_size, codebook from train_kmeans_centroids exactly as
    sim_ann_ivf_trained composes it), which bounds cell_size — the same
    knob the SemDeDup paper turns.  The gate uses the first-16-vector
    stand-in codebook so the oracle can re-derive it in SQL; tau=0.3
    because the driver's synthetic embeddings hold no true near-dups
    (max pairwise cos ~0.45) — production runs tau~0.95+ unchanged.
    dedup_semantic_trained below is the production composition (trained
    cells), sharing this body."""
    e = _emb_norm(spark, sf_dir)
    rows = (
        e.filter(F.col("vec_id") < _N_CELLS).select("vec_id", "v", "nrm").collect()
    )
    cents = [(int(r["vec_id"]), list(r["v"]), float(r["nrm"])) for r in rows]
    return _semantic_keep(e, cents)


def dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_semantic with a genuinely TRAINED coarse quantizer
    (train_kmeans_centroids via _trained_coarse) — the production
    composition the SemDeDup paper actually runs: k-means cells bound
    per-cell occupancy by construction, where first-k stand-in cells can
    skew hot (a hot cell makes the cell-bucketed self-join quadratic in
    ITS size — the straggler-reducer failure at 100 TB).  Rows-only
    (k-means is iterative); pinned in pytest: planted duplicates are
    flagged under ANY cell assignment (identical vectors always share a
    cell), and occupancy is more BALANCED than the stand-in's (smaller
    max/min spread — the quantity that bounds the worst reducer)."""
    e = _emb_norm(spark, sf_dir)
    return _semantic_keep(e, _trained_coarse(e, seed_mod=61))


def _semantic_keep(
    e: DataFrame, cents: list[tuple[int, list[float], float]]
) -> DataFrame:
    """The SemDeDup search body shared by the oracle-gated stand-in-cell
    op and the trained-cell production op: cell assignment, cell-bucketed
    LEFT self-join, per-vector keep decision."""
    assigned = _cell_top(e, cents, 1).select(
        "vec_id",
        F.element_at(F.col("top"), 1).getField("cid").alias("cell"),
        "v",
        "nrm",
    )
    # LEFT join + null-skipping count(vec_b): every vector survives into
    # the aggregate, so `assigned` is consumed exactly twice (the two
    # inherent self-join legs) — no third scan/recompute for a final
    # "join the counts back" pass
    a = assigned.select(
        F.col("vec_id").alias("vec_a"),
        F.col("cell").alias("cell_a"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cell").alias("cell_b"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nnrm"),
    )
    cos = F.round(F.expr(_DOT) / (F.col("qnrm") * F.col("nnrm")), 4)
    cond = (
        (F.col("cell_a") == F.col("cell_b"))
        & (F.col("vec_b") < F.col("vec_a"))
        & (cos >= F.lit(_SEMDEDUP_TAU))
    )
    return (
        a.join(b, cond, "left")
        .groupBy(F.col("vec_a").alias("vec_id"), F.col("cell_a").alias("cell"))
        .agg(F.count("vec_b").cast("bigint").alias("n_dups"))
        .select(
            "vec_id",
            "cell",
            "n_dups",
            (F.col("n_dups") == 0).cast("int").alias("keep"),
        )
    )


def embed_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats (count + mean L2 norm)."""
    e = _emb_norm(spark, sf_dir)
    return e.groupBy("label").agg(
        F.count("*").alias("n_vecs"), F.round(F.avg("nrm"), 4).alias("avg_norm")
    )


# --- model-based quality scoring (applying a trained classifier) -----------

_QS_SEED = 0x0C1A55


def _quality_classifier_weights(dim: int = 64, seed: int = _QS_SEED):
    """Deterministic stand-in for a trained linear quality classifier:
    (bias, weights), each an exact thousandth in [-1, 1].  In production
    these literals are the artifact ``train_embed_lr`` emits; the
    engine-side plan — literal weight array, one JVM projection pass,
    zero UDFs — is identical whatever the values, so the gate pins the
    full scoring path with values both engines can reproduce."""
    x = seed & 0x7FFFFFFF
    out = []
    for _ in range(dim + 1):
        x = (1103515245 * x + 12345) & 0x7FFFFFFF
        out.append((((x >> 8) % 2001) - 1000) / 1000.0)
    return out[0], out[1:]


def embed_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide model-based quality filter: score every embedding
    against a trained linear classifier (dot + bias → sigmoid) and flag
    keeps — the stage that applies ``train_embed_lr``'s artifact to the
    whole corpus (CCNet/RefinedWeb-style model-based filtering).

    Parity: the margin folds left-to-right from 0D (the proven
    _DOT/_SQL_DOT pattern), so it is bit-identical in DuckDB; the
    transcendental sigmoid is fed the margin ROUNDED to 6 decimals so
    both engines call exp() on identical doubles; ``keep`` decides on the
    unrounded margin's sign (an exact comparison of bit-identical
    values — no rounding-boundary risk).

    Scale: one scan, one JVM projection — the dim-sized weight vector
    constant-folds to a single array Literal (never a per-dim expression
    chain; see _sql_darray) — no shuffle, no UDF, embarrassingly parallel
    at 10^12 rows."""
    b, w = _quality_classifier_weights()
    e = _emb(spark, sf_dir).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    margin = (
        F.expr(
            f"aggregate(zip_with(v, {_sql_darray(w)}, (x, y) -> x * y), "
            "0D, (acc, v) -> acc + v)"
        )
        + F.lit(float(b))
    )
    e = e.withColumn("margin", margin)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.round(F.col("margin"), 6)))
    return e.select(
        "vec_id",
        "label",
        F.round(score, 4).alias("quality_score"),
        (F.col("margin") >= 0).cast("int").alias("keep"),
    )


_LR_ITERS = 25
_LR_RATE = 5.0
_LR_LABEL = 0  # one-vs-rest target class


def _sql_darray(vals) -> str:
    """A literal array<double> SQL fragment.  Catalyst constant-folds it to
    ONE Literal node, so shipping a dim-sized vector per iteration costs
    nothing at plan time (the sign-LSH hyperplane lesson: never build
    dim-sized +/- expression chains — they blow the Janino 64KB codegen
    limit and fall back to interpreted eval)."""
    return "array(%s)" % ", ".join("%rD" % float(v) for v in vals)


def _embed_centered_stats(
    spark: SparkSession, sf_dir: str, embs: DataFrame | None = None
):
    """Shared prep for the iterative embedding loops (LR standardization,
    PCA centering): the cast projection plus per-dimension mean /
    population variance and the row count — all from ONE posexplode
    aggregate job (dim rows cross the driver).  A single definition so a
    fix to NULL/ragged handling cannot desynchronize the two consumers.
    ``embs`` overrides the default sf_dir table (the lr_model lifecycle
    trains on caller-supplied frames — the docs= pattern)."""
    e = (embs if embs is not None else _emb(spark, sf_dir)).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("x0"),
    )
    rows = (
        e.select(F.posexplode("x0").alias("pos", "xv"))
        .groupBy("pos")
        .agg(
            F.avg("xv").alias("m"),
            F.var_pop("xv").alias("var"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    dim = len(rows)
    stats = {r["pos"]: (r["m"], r["var"]) for r in rows}
    n = rows[0]["n"] if rows else 0
    return e, dim, stats, n


def train_embed_lr(
    spark: SparkSession,
    sf_dir: str,
    iters: int = _LR_ITERS,
    rate: float = _LR_RATE,
) -> DataFrame:
    """Distributed logistic-regression training (one-vs-rest on the
    embeddings table's label column) by full-batch gradient descent — the
    quality-classifier training loop of a curation pipeline, run INSIDE
    the engine: each iteration is ONE aggregate job computing the loss,
    the bias gradient, and all dim weight gradients as plain JVM sum
    aggregates (no explode, no UDF — sum((p−y)·x[j]) per dimension), so
    only ~dim+2 doubles ever cross the driver per iteration.

    Features are per-dimension standardized first (one posexplode
    aggregate; dim rows to the driver) — without it the raw embeddings
    need ~100× more iterations to separate.  Returns the training trace
    (iter, loss, avg p̂ on positives/negatives): rows-only gate —
    iterative and transcendental (sigmoid/log), not SQL-expressible —
    with convergence invariants pinned in pytest.

    Scale: the standardization aggregate and each GD iteration are
    map-side-combinable aggregates over a persisted projection; nothing
    grows with n on the driver.  At 10¹² rows switch full-batch to
    mini-batch by sampling a deterministic doc_id slice per iteration —
    the job shape is unchanged.
    """
    e, dim, stats, _n = _embed_centered_stats(spark, sf_dir)
    b, w, trace, _mu, _sd = _lr_fit(e, dim, stats, iters, rate)
    return spark.createDataFrame(
        trace, "iter: int, loss: double, p_pos: double, p_neg: double"
    )


def _lr_fit(
    e: DataFrame,
    dim: int,
    stats: dict,
    iters: int,
    rate: float,
    target_label: int = _LR_LABEL,
):
    """The full-batch GD loop shared by :func:`train_embed_lr` (returns
    the trace) and ``lr_model.train_lr_model`` (persists the artifact).
    ``e`` is the (label, x0) projection from :func:`_embed_centered_stats`;
    returns (bias, weights, trace, mu, sd) in STANDARDIZED space —
    callers that score raw vectors must fold mu/sd into the weights."""
    mu = [stats[j][0] for j in range(dim)]
    sd = [
        v ** 0.5 if v is not None and v > 1e-24 else 1.0
        for v in (stats[j][1] for j in range(dim))
    ]
    ex = e.select(
        (F.col("label") == target_label).cast("double").alias("y"),
        F.expr(
            f"zip_with(zip_with(x0, {_sql_darray(mu)}, (a, m) -> a - m), "
            f"{_sql_darray(sd)}, (c, s) -> c / s)"
        ).alias("x"),
    ).persist()
    try:
        w = [0.0] * dim
        b = 0.0
        trace = []
        n = None
        for it in range(iters):
            margin = F.expr(
                f"aggregate(zip_with(x, {_sql_darray(w)}, (a, b) -> a * b), "
                f"{b!r}D, (acc, v) -> acc + v)"
            )
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
            withp = ex.select("y", "x", p.alias("p"))
            loss = -(
                F.col("y") * F.log(F.greatest(F.col("p"), F.lit(1e-12)))
                + (1 - F.col("y")) * F.log(F.greatest(1 - F.col("p"), F.lit(1e-12)))
            )
            aggs = [
                F.count("*").alias("n"),
                F.avg(loss).alias("loss"),
                F.avg(F.col("p") - F.col("y")).alias("gb"),
                F.avg(F.when(F.col("y") == 1.0, F.col("p"))).alias("p_pos"),
                F.avg(F.when(F.col("y") == 0.0, F.col("p"))).alias("p_neg"),
            ] + [
                F.sum(F.expr(f"(p - y) * x[{j}]")).alias(f"g{j}") for j in range(dim)
            ]
            row = withp.agg(*aggs).collect()[0]
            n = row["n"]
            trace.append(
                (
                    it,
                    round(row["loss"], 6),
                    round(row["p_pos"] or 0.0, 6),
                    round(row["p_neg"] or 0.0, 6),
                )
            )
            b -= rate * row["gb"]
            w = [wj - rate * row[f"g{j}"] / n for j, wj in enumerate(w)]
        return b, w, trace, mu, sd
    finally:
        ex.unpersist()


_PCA_COMPONENTS = 2
_PCA_ITERS = 20  # λ2/λ1 ≈ 0.93 on the test cloud → <1% eigenvalue error


def embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k principal components of the embedding cloud by distributed
    power iteration with deflation — the spectral little sibling of the
    k-means and LR loops: each iteration is ONE aggregate job computing
    s = Σ (x·w)·x as dim plain JVM sum aggregates (`sum(dot * x[j])`),
    with the current direction shipped as a constant-folded literal
    array.  Deflation (orthogonalize against found components) and
    normalization are driver-side on dim-sized vectors.

    Returns one row per component: the Rayleigh-quotient eigenvalue and
    its explained-variance share.  Rows-only gate (iterative +
    sqrt-normalized); pinned against numpy.linalg.eigh in pytest.

    Scale: dim+1 doubles cross the shuffle per partition and the driver
    per iteration; the centered projection is persisted once.  The
    centering aggregate is the same posexplode (dim)-keyed pass as
    train_embed_lr's standardization.
    """
    e, dim, stats, n = _embed_centered_stats(spark, sf_dir)
    mu = [stats[j][0] for j in range(dim)]
    total_var = sum(stats[j][1] for j in range(dim))
    ex = e.select(
        F.expr(f"zip_with(x0, {_sql_darray(mu)}, (a, m) -> a - m)").alias("x")
    ).persist()
    try:
        comps: list[list[float]] = []
        out = []
        for c in range(_PCA_COMPONENTS):
            # deterministic start: LCG Rademacher signs (the sign-LSH trick),
            # then deflate so the start is already orthogonal to found comps
            state = 0x9E3779B9 * (c + 1) & 0xFFFFFFFF
            w = []
            for _ in range(dim):
                state = (1664525 * state + 1013904223) & 0xFFFFFFFF
                w.append(1.0 if state & 0x80000000 else -1.0)
            lam = 0.0
            for _ in range(_PCA_ITERS):
                for prev in comps:
                    d = sum(a * b for a, b in zip(w, prev))
                    w = [a - d * b for a, b in zip(w, prev)]
                nrm = sum(a * a for a in w) ** 0.5
                w = [a / nrm for a in w]
                dot = F.expr(
                    f"aggregate(zip_with(x, {_sql_darray(w)}, (a, b) -> a * b), "
                    "0D, (acc, v) -> acc + v)"
                )
                row = (
                    ex.select("x", dot.alias("d"))
                    .agg(
                        F.sum(F.col("d") * F.col("d")).alias("ray"),
                        *[
                            F.sum(F.expr(f"d * x[{j}]")).alias(f"s{j}")
                            for j in range(dim)
                        ],
                    )
                    .collect()[0]
                )
                lam = row["ray"] / n
                w = [row[f"s{j}"] for j in range(dim)]
            # final orthonormalize for the report
            for prev in comps:
                d = sum(a * b for a, b in zip(w, prev))
                w = [a - d * b for a, b in zip(w, prev)]
            nrm = sum(a * a for a in w) ** 0.5
            w = [a / nrm for a in w]
            comps.append(w)
            out.append((c, round(lam, 6), round(lam / total_var, 6)))
        return spark.createDataFrame(
            out, "component: int, eigenvalue: double, explained_frac: double"
        )
    finally:
        ex.unpersist()


_PPS_TARGET = 50  # expected sample size (docs with p clipped at 1 shrink it)


def docs_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson PPS sample: include each doc with probability
    min(1, k * w / W) where w = n_chars and W = total corpus chars —
    quality/size-weighted subsampling, the training-mixture workhorse.

    The per-doc uniform draw is the first 52 bits of md5('pps:' || doc_id)
    (u in [0, 2^52)), and the inclusion test ``u * W < k * w * 2^52`` is
    evaluated in exact decimal/huge integer arithmetic — no doubles, no
    libm — so Spark and the DuckDB oracle select the identical row set.

    Scale: one 1-row broadcast (total weight) + a stateless per-row
    predicate; no shuffle at all beyond the count aggregate.  Deterministic
    under retries (the draw is keyed by doc_id, not RNG state).
    """
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    tot = d.agg(F.sum("n_chars").alias("w_total"))
    u = F.expr(
        "CAST(conv(substring(md5(concat('pps:', CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    lhs = u.cast("decimal(20,0)") * F.col("w_total").cast("decimal(20,0)")
    rhs = (
        F.lit(_PPS_TARGET * (1 << 52)).cast("decimal(20,0)")
        * F.col("n_chars").cast("decimal(20,0)")
    )
    return (
        d.crossJoin(F.broadcast(tot))
        .filter(lhs < rhs)
        .select("doc_id", F.col("n_chars").alias("weight"))
    )


_TFIDF_TOPK = 3


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most distinctive terms per document by a rational tf-idf
    score: (c_td / n_d) * (N / df_t) — term frequency times reciprocal
    document frequency.  The reciprocal-df idf (instead of the textbook
    ln(N/df)) keeps every arithmetic step an exact-integer-to-double
    conversion plus IEEE divide/multiply, so Spark and the DuckDB oracle
    produce bit-identical doubles with no transcendental-libm drift.

    Scale: two hash aggregates — term counts keyed by (doc_id, w) (doc_id
    in the key, so hot vocabulary spreads across reducers) and a w-keyed
    df agg whose output is vocabulary-sized; df joins back on w (AQE
    broadcasts the vocab side when small, a plain shuffle join otherwise).
    The top-k window partitions by doc_id — no global sort, no UDFs.
    Part of the §2.E LLM-pipeline family (the reference has no analytics
    surface; corpus-level term statistics are a standard curation need).
    """
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKS).alias("arr"))
    n_total = d.select(F.count("*").alias("n_docs_total"))
    tc = (
        d.select("doc_id", F.size("arr").alias("n_d"), F.explode("arr").alias("w"))
        .groupBy("doc_id", "n_d", "w")
        .agg(F.count("*").alias("c"))
    )
    df_t = tc.groupBy("w").agg(F.count("*").alias("df"))
    score = (F.col("c") / F.col("n_d")) * (F.col("n_docs_total") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("w"))
    return (
        tc.join(df_t, "w")
        .crossJoin(F.broadcast(n_total))
        .withColumn("score", score)
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= _TFIDF_TOPK)
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "term_rank",
            F.round("score", 4).alias("tfidf"),
        )
    )


_CHUNK_TOKENS = 256  # training sequence length (tokens per packed chunk)


def docs_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-and-chunk sequence assignment — the final step of a pretraining
    data pipeline: concatenate every document's token stream in a
    deterministic global training order and cut the stream into fixed
    ``_CHUNK_TOKENS``-token chunks.  Emits each doc's half-open token
    interval [tok_start, tok_end) plus the first/last chunk it lands in —
    exactly what a downstream loader needs to materialize chunk k without
    re-scanning the corpus.

    Scale: the training order is the md5 shuffle rank and the global
    prefix sum over token counts is the same two-phase bucket trick
    (per-bucket running sums under hashpartitioning + one broadcast
    256-row offset table) — no SinglePartition exchange anywhere; chunk
    ids are integer division on the prefix sum (exact, engine-portable,
    no doubles).
    """
    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.expr(_TOKS)).cast("long").alias("n_tok")
    )
    ranked = _md5_shuffle_rank(d, cumsum_col="n_tok")
    # integer DIV, not `/`: double division loses exactness past 2^53
    # cumulative tokens — a bound a 100 TB token stream exceeds
    return (
        ranked.withColumn("tok_start", F.col("cum_start"))
        .withColumn("tok_end", F.col("cum_start") + F.col("n_tok"))
        .withColumn("chunk_first", F.expr(f"tok_start DIV {_CHUNK_TOKENS}"))
        .withColumn(
            "chunk_last",
            F.expr(f"greatest(tok_end - 1, tok_start) DIV {_CHUNK_TOKENS}"),
        )
        .select(
            "doc_id",
            "shuffle_rank",
            "n_tok",
            "tok_start",
            "tok_end",
            "chunk_first",
            "chunk_last",
            (F.col("chunk_last") - F.col("chunk_first") + 1).alias("n_chunks_spanned"),
        )
    )


# target corpus mixture by language, numerators over _MIX_DENOM (langs not
# listed are dropped); uniform here — the documents table's en share is
# ~44%, so the op visibly downsamples en while keeping the small strata
_MIX_TARGETS = {"en": 20, "zh": 20, "es": 20, "de": 20, "fr": 20}
_MIX_DENOM = 100


def docs_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture rebalancing — downsample overrepresented strata
    toward a target mix (the static data-mixing step of corpus curation):
    each doc of language l survives with p_l = min(1, t_l * N / n_l),
    where t_l is the target share, N the corpus size and n_l the stratum
    size.  Strata already at or below target keep every doc (p clips at
    1 — no upsampling); overrepresented strata shrink to ~t_l * N docs.

    The per-doc draw is the first 52 bits of md5('mix:' || doc_id) and the
    inclusion test  u * D * n_l  <  t_l * N * 2^52  is exact decimal
    integer arithmetic (D = the target denominator) — no doubles, no RNG
    state, so Spark and DuckDB select identical rows and retries are
    deterministic.  Returns the per-language before/after summary.

    Scale: one tiny lang-keyed agg (|langs| rows, broadcast back), a
    stateless per-row predicate, one lang-keyed summary agg.  The draw is
    keyed by doc_id, so speculative re-execution can't change the sample.
    """
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    strata = d.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = d.agg(F.count("*").alias("n_total"))
    target = F.create_map(
        *[F.lit(x) for kv in _MIX_TARGETS.items() for x in kv]
    )[F.col("lang")]
    u = F.expr(
        "CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    lhs = (
        u.cast("decimal(20,0)")
        * (F.lit(_MIX_DENOM).cast("decimal(20,0)") * F.col("n_l").cast("decimal(20,0)"))
    )
    rhs = (
        F.coalesce(target, F.lit(0)).cast("decimal(20,0)")
        * F.col("n_total").cast("decimal(20,0)")
        * F.lit(1 << 52).cast("decimal(20,0)")
    )
    kept = (
        d.join(F.broadcast(strata), "lang")
        .crossJoin(F.broadcast(tot))
        .withColumn("keep", (lhs < rhs).cast("long"))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.max("n_l").alias("n_docs"),
            F.sum("keep").alias("n_kept"),
        )
        .orderBy("lang")
    )


# Maximum repeat factor for the epoch plan: data-constrained scaling work
# (Muennighoff et al. 2023) finds up to ~4 epochs of reuse near-lossless,
# with rapidly diminishing returns beyond — so the plan's expected repeat
# count is quality-proportional on a [0, 4] scale.
_REPEAT_MAX = 4


def docs_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted epoch-repeat plan — turn a per-doc quality score
    into the explicit integer repeat factor a data-constrained training
    run materializes (high-quality docs seen up to ``_REPEAT_MAX`` times,
    junk approaches zero).  Expected repeats are quality-proportional,
    x = _REPEAT_MAX · q with q ∈ [0, 1] the shared text-quality composite
    (`_quality_expr`), and the integer plan is n = ⌊x⌋ plus a Bernoulli
    top-up on the fractional part so Σn is an unbiased estimate of Σx.

    The top-up draw is the first 52 bits of md5('rep:' || doc_id) compared
    against frac(x)·2^52 — doc_id-keyed (retry/speculation-proof) and
    engine-portable, the docs_pps_sample discipline.  q is computed
    per-row from that row alone, so the whole op is a stateless projection:
    ZERO shuffles, ZERO aggregates — the cheapest possible plan shape at
    100 TB, and embarrassingly parallel at any executor count.
    """
    d = _docs(spark, sf_dir).select("doc_id", "text", F.expr(_TOKS).alias("arr"))
    x = F.lit(float(_REPEAT_MAX)) * _quality_expr()
    u = F.expr(
        "CAST(conv(substring(md5(concat('rep:', CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    frac = x - F.floor(x)
    n_rep = (
        F.floor(x).cast("long")
        + (u.cast("double") < frac * F.lit(float(1 << 52))).cast("long")
    )
    # expected_repeats is emitted UNROUNDED: x is the same IEEE expression
    # in both engines (bit-identical), while round-to-4 lands on decimal
    # half-way boundaries (e.g. x = 3.31875) that Spark's HALF_UP on the
    # binary value and DuckDB's round resolve differently
    return d.select(
        "doc_id",
        x.alias("expected_repeats"),
        n_rep.alias("n_repeats"),
    )


def docs_repeat_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize :func:`docs_repeat_plan` into the physical training
    order a loader consumes: each doc explodes into its ``n_repeats``
    copies and every copy draws an INDEPENDENT deterministic rank key
    (md5 over doc_id#copy_idx), so a doc's repeats interleave through the
    whole epoch-spanning stream instead of clustering — the layout
    data-constrained training wants (repeat exposures spaced apart).

    Scale: the explode factor is bounded by ``_REPEAT_MAX``; the global
    rank is the docs_global_shuffle two-phase trick (rank within 256
    md5-prefix buckets + a broadcast 256-row offset table), so nothing
    funnels through a SinglePartition exchange.  Deterministic under
    retries end-to-end: the plan draw and the order draw are both keyed
    by (doc_id, copy_idx), never RNG state.
    """
    plan = docs_repeat_plan(spark, sf_dir).filter(F.col("n_repeats") > 0)
    copies = plan.select(
        "doc_id",
        "n_repeats",
        F.explode(F.expr("sequence(1, n_repeats)")).alias("copy_idx"),
    )
    key = F.md5(
        F.encode(
            F.concat(
                F.lit("ord:"),
                F.col("doc_id").cast("string"),
                F.lit("#"),
                F.col("copy_idx").cast("string"),
            ),
            "utf-8",
        )
    )
    keyed = copies.withColumn("shuffle_key", key).withColumn(
        "bkt", F.substring("shuffle_key", 1, 2)
    )
    counts = keyed.groupBy("bkt").agg(F.count("*").alias("n"))
    prior = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "bkt_offset", F.coalesce(F.sum("n").over(prior), F.lit(0))
    ).select("bkt", "bkt_offset")
    w = Window.partitionBy("bkt").orderBy("shuffle_key", "doc_id", "copy_idx")
    return (
        keyed.withColumn("bkt_rank", F.row_number().over(w))
        .join(F.broadcast(offsets), "bkt")
        .select(
            "doc_id",
            "copy_idx",
            "n_repeats",
            "shuffle_key",
            (F.col("bkt_offset") + F.col("bkt_rank")).cast("long").alias("train_rank"),
        )
    )


# Held-out fraction per source stratum for the train/val split.
_HOLDOUT_FRAC = 0.1


def docs_split_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified train/val split: within every ``source`` stratum,
    rank docs by a doc_id-keyed md5 draw and hold out the lowest
    ⌈``_HOLDOUT_FRAC``·n_source⌉ as ``val`` — the held-out eval slice a
    curation pipeline must carve BEFORE any quality filtering touches the
    pool (filtering first would bias the eval set toward the filter).
    Exact per-stratum quotas, unlike a per-doc Bernoulli draw
    (docs_pps_sample's shape), and deterministic under retries: the draw
    is md5('hold:'||doc_id), never RNG state.

    Scale: the per-source rank is the docs_global_shuffle two-phase
    trick applied per stratum — rank within (source, 2-hex-draw-prefix)
    buckets plus a broadcast (source × 256)-row offset table — so no
    source ever funnels through a single reducer's sort; quotas join
    from a broadcast sources-row table."""
    d = _docs(spark, sf_dir).select("doc_id", "source")
    keyed = d.withColumn(
        "draw", F.md5(F.concat(F.lit("hold:"), F.col("doc_id").cast("string")))
    ).withColumn("bkt", F.substring("draw", 1, 2))
    counts = keyed.groupBy("source", "bkt").agg(F.count("*").alias("n"))
    prior = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(prior), F.lit(0))
    ).select("source", "bkt", "off")
    quotas = (
        counts.groupBy("source")
        .agg(F.sum("n").alias("n_source"))
        .select(
            "source",
            F.ceil(F.lit(_HOLDOUT_FRAC) * F.col("n_source"))
            .cast("long")
            .alias("quota"),
        )
    )
    w = Window.partitionBy("source", "bkt").orderBy("draw", "doc_id")
    rank = (F.col("off") + F.col("r")).cast("long")
    return (
        keyed.withColumn("r", F.row_number().over(w))
        .join(F.broadcast(offsets), ["source", "bkt"])
        .join(F.broadcast(quotas), "source")
        .select(
            "doc_id",
            "source",
            rank.alias("holdout_rank"),
            F.when(rank <= F.col("quota"), F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


# Quality bands for the curriculum rank's two-phase trick; q ∈ [0, 1], so
# floor(q·bands) is monotone in q and band-concatenated ranks equal the
# global quality order.  A knob: more bands = more parallel sort tasks.
_CURRICULUM_BANDS = 256


def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: rank every doc by the shared text-quality
    composite ASCENDING (easy/low-quality exposures first, hardest/best
    last — or read the rank backwards for anti-curriculum), ties broken
    by doc_id.  The complement of docs_repeat_order's interleaved random
    layout: same loader-facing contract (a dense 1..N ``train_rank``-style
    column), opposite ordering policy.

    Scale: the global quality sort never funnels — rank within
    ``_CURRICULUM_BANDS`` quality bands (floor(q·bands), monotone in q)
    plus a broadcast band-offset table, the docs_global_shuffle two-phase
    trick keyed by value bands instead of md5 prefixes."""
    d = _docs(spark, sf_dir).select("doc_id", "text", F.expr(_TOKS).alias("arr"))
    scored = d.select("doc_id", _quality_expr().alias("q"))
    return _quality_band_rank(scored).select(
        "doc_id",
        # UNROUNDED: bit-identical in both engines (the repeat-plan
        # lesson — rounding creates decimal-halfway disagreements)
        F.col("q").alias("quality"),
        "curriculum_rank",
    )


def _quality_band_rank(
    scored: DataFrame, rank_name: str = "curriculum_rank"
) -> DataFrame:
    """(doc_id, q, <rank_name>) — dense 1..N rank ascending in (q, doc_id)
    via the banded two-phase trick; shared by :func:`docs_curriculum_order`
    and run_curate's ``--order curriculum``."""
    band = F.least(
        F.floor(F.col("q") * _CURRICULUM_BANDS).cast("int"),
        F.lit(_CURRICULUM_BANDS - 1),
    )
    keyed = scored.withColumn("band", band)
    counts = keyed.groupBy("band").agg(F.count("*").alias("n"))
    prior = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(prior), F.lit(0))
    ).select("band", "off")
    w = Window.partitionBy("band").orderBy("q", "doc_id")
    return (
        keyed.withColumn("r", F.row_number().over(w))
        .join(F.broadcast(offsets), "band")
        .select(
            "doc_id",
            "q",
            (F.col("off") + F.col("r")).cast("long").alias(rank_name),
        )
    )


# Duplicated-span n-gram width: 8 tokens ≈ the granularity at which prose
# reuse stops being coincidence on an alnum-token stream (Lee et al. use
# 50 BPE tokens on web text; the synthetic corpus' docs are ~40 tokens, so
# 8 keeps the op observable while preserving the plan shape).
_SPAN_N = 8

# Salt width for the dup-gram probe join: the dup side is 1 row/gram, so
# replicating it R ways and keying the fat gram side by (g, hash(doc_id)%R)
# spreads a boilerplate gram shared by a large fraction of the corpus —
# exactly what span dedup exists to find — across R reducers instead of
# one.  Membership semantics are untouched (every gram row still meets its
# dup entry exactly once), so the DuckDB oracle needs no mirror.
_SPAN_SALT = 16


def _dup_gram_cov(
    spark: SparkSession,
    sf_dir: str,
    toks: DataFrame | None = None,
    n: int = _SPAN_N,
) -> DataFrame:
    """(doc_id, s, e) token intervals covered by a cross-document duplicated
    ``_SPAN_N``-gram — the ONE definition of the coverage math, shared by
    dedup_span_ngrams (island merge → spans) and dedup_span_strip (position
    anti-join → cleaned text), mirroring the _SQL_SPANCOV_CTES fragment.
    ``toks`` optionally supplies the caller's already-checkpointed
    (doc_id, arr) frame so a composing op tokenizes the corpus ONCE;
    ``n`` is the span width (8 at gate scale; Lee et al. use ~50 BPE
    tokens on web text — a pure knob, same plan at any value; the DuckDB
    oracle in _SQL_SPANCOV_CTES mirrors the GATE DEFAULT only, so parity
    checks are meaningful only at n == _SPAN_N)."""
    grams_expr = (
        f"CASE WHEN size(arr) >= {n} THEN "
        f"transform(sequence(1, size(arr) - {n - 1}), "
        f"i -> concat_ws(' ', slice(arr, i, {n}))) "
        "ELSE array() END"
    )
    if toks is None:
        toks = _tokenized_arr(spark, sf_dir)
    grams = toks.select(
        "doc_id", F.posexplode(F.expr(grams_expr)).alias("pos0", "g")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("s"), "g")
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("g")
    )
    # Salted probe: the countDistinct agg above is map-side-combine-safe
    # (partial (g, doc_id) dedup, then tiny per-partition counts), but a
    # plain `grams.join(dup, "g")` re-shuffles the fat gram side on the
    # raw gram string — one hot boilerplate gram lands all its rows on a
    # single reducer.  Replicate the 1-row dup side _SPAN_SALT ways and
    # join on the FUSED key gs = g || ':' || salt (tokens are alnum, so
    # ':' never collides) so a hot gram's rows spread across _SPAN_SALT
    # reducers; each gram row still matches exactly one dup replica.
    # The fused single key matters: with separate (g, salt) join keys,
    # the dup side's post-agg hashpartitioning(g) survives the explode,
    # satisfies ClusteredDistribution(g, salt), and EnsureRequirements
    # co-partitions BOTH sides on g alone — silently undoing the salt.
    dup_salted = dup.select(
        "g", F.explode(F.sequence(F.lit(0), F.lit(_SPAN_SALT - 1))).alias("salt")
    ).select(F.concat_ws(":", "g", "salt").alias("gs"))
    grams_salted = grams.select(
        "doc_id",
        "s",
        F.concat_ws(
            ":", F.col("g"), F.pmod(F.hash("doc_id"), F.lit(_SPAN_SALT))
        ).alias("gs"),
    )
    return grams_salted.join(dup_salted, "gs").select(
        "doc_id", "s", (F.col("s") + F.lit(n - 1)).alias("e")
    )


def dedup_span_ngrams(
    spark: SparkSession, sf_dir: str, n: int = _SPAN_N
) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the n-gram-granular
    approximation of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a token position is
    *covered* when the ``n``-gram starting there (gate default
    ``_SPAN_N``) occurs in ≥2 distinct documents;
    overlapping/adjacent covered intervals merge into
    maximal spans (gaps-and-islands over a running-max window).  Emits one
    row per (doc, span) with its token interval — what a span-strip pass
    consumes, and a strictly finer signal than doc-level near-dedup
    (catches shared paragraphs inside otherwise-unique docs).

    Scale: no pair join anywhere — a gram shared by K docs costs K rows
    (grams → one hash-agg on the gram string for the distinct-doc count →
    one equi-join back on the same key, both sides already partitioned on
    ``g``), unlike pairwise sketches where a hot key is K².  The island
    merge is a per-doc window (doc-partitioned, tiny).  The suffix-array
    construction the paper uses is a single-machine algorithm; this
    formulation trades sub-n-gram matches for embarrassing parallelism.
    """
    cov = _dup_gram_cov(spark, sf_dir, n=n)
    # gaps-and-islands: break where this interval starts past the running
    # max end + 1 (adjacent spans merge — token runs are contiguous)
    w_prev = (
        Window.partitionBy("doc_id").orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id").orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = cov.withColumn(
        "brk",
        (F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)) + 1).cast("long"),
    ).withColumn("span_idx", F.sum("brk").over(w_run))
    return marked.groupBy("doc_id", "span_idx").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        (F.max("e") - F.min("s") + 1).alias("span_len"),
    )


def dedup_span_strip(
    spark: SparkSession, sf_dir: str, n: int = _SPAN_N
) -> DataFrame:
    """The ACTION for dedup_span_ngrams' findings: remove every token
    covered by a cross-document duplicated n-gram and emit, per document,
    the surviving token count and a sha256 of the cleaned token stream
    (order preserved) — the per-row artifact a strip pass materializes,
    hash-verified without shipping fat text through the comparator.

    Scale: coverage explodes to at most n_tok positions per doc (bounded
    by the corpus token count, not by pair counts), the removal is a
    doc+position anti-join (both sides partitioned by doc_id), and the
    cleaned stream is rebuilt inside the doc-keyed aggregate — the fat
    token stream shuffles ONCE, on the same doc_id key end to end.
    """
    toks = _tokenized_arr(spark, sf_dir)
    covered = (
        _dup_gram_cov(spark, sf_dir, toks=toks, n=n)
        .select("doc_id", F.explode(F.sequence("s", "e")).alias("pos"))
        .distinct()
    )
    tokpos = toks.select(
        "doc_id", F.posexplode("arr").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    kept = tokpos.join(covered, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.expr(
            "sha2(concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))),"
            " p -> p.tok)), 256)"
        ).alias("clean_sha"),
    )
    totals = toks.select("doc_id", F.size("arr").cast("long").alias("n_tokens"))
    return totals.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        F.coalesce(F.col("clean_sha"), F.sha2(F.lit(""), 256)).alias("clean_sha"),
    )


# DSIR hashed-feature space and target split.  The GATE op uses 1024
# buckets (keeps the LM broadcast-tiny while leaving hash collisions
# visible at test scale) with cross-product λ — exact-integer ratios the
# DuckDB oracle reproduces bit-for-bit.  The PRODUCTION face
# (dsir_weights_frames) defaults to the published 10k buckets (Xie et
# al.) with log-domain λ, which stays in double range at web-scale
# counts; a pytest pins log-domain == cross-product to fp tolerance.
# The "target corpus" stand-in is the deterministic doc_id % 10 == 0
# slice (same convention as _DECON_BENCH_MOD's held-out benchmark).
_DSIR_BUCKETS = 1024
_DSIR_PROD_BUCKETS = 10_000
_DSIR_TARGET_MOD = 10

# DSIR scoring CTE chain (tokens → hashed uni+bigram features → bucket
# LM → broadcast λ → per-doc log_w), dsir_-prefixed so it composes into
# larger oracle chains (corpus_curate_dsir) without CTE-name collisions.
# A bare CTE list ending in `dsir_scored` (doc_id, n_feats, log_w for
# docs WITH features); callers prepend WITH and handle no-feature docs.
_SQL_DSIR_CTES = f"""
        dsir_toks AS (
            SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
        ), dsir_uni AS (
            SELECT doc_id, unnest(arr) AS g FROM dsir_toks
        ), dsir_bi AS (
            -- zipped multi-unnest: parallel unnests align element-wise
            SELECT doc_id,
                   unnest(arr[1:len(arr) - 1]) || ' ' || unnest(arr[2:len(arr)]) AS g
            FROM dsir_toks WHERE len(arr) >= 2
        ), dsir_fb AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5('dsir:' || g), 1, 13)) AS BIGINT)
                       % {_DSIR_BUCKETS} AS b,
                   doc_id % {_DSIR_TARGET_MOD} = 0 AS is_t
            FROM (SELECT * FROM dsir_uni UNION ALL SELECT * FROM dsir_bi)
        ), dsir_bc AS (
            SELECT b,
                   CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                   CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
            FROM dsir_fb GROUP BY b
        ), dsir_tot AS (
            SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr
            FROM dsir_bc
        ), dsir_lm AS (
            SELECT b, ln( ((ct + 1) * (tr + {_DSIR_BUCKETS})) * 1.0
                          / ((cr + 1) * (tt + {_DSIR_BUCKETS})) ) AS lam
            FROM dsir_bc CROSS JOIN dsir_tot
        ), dsir_scored AS (
            -- + 0.0 canonicalizes IEEE -0.0 to +0.0, matching the Spark op
            SELECT f.doc_id, count(*) AS n_feats,
                   round(sum(l.lam), 4) + 0.0 AS log_w
            FROM dsir_fb f JOIN dsir_lm l USING (b) GROUP BY f.doc_id
        )
"""


def docs_dsir_weights(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
    score every raw document by the log-likelihood ratio of a hashed-n-gram
    unigram+bigram LM fit on a small target corpus vs one fit on the raw
    pool — the standard cheap proxy for "looks like the data I want more
    of".  Features are hashed into ``_DSIR_BUCKETS`` buckets (md5-based —
    the engine-portable draw every sampling op here uses), add-one
    smoothed; ``log_w = Σ_features ln(p_target[b] / p_raw[b])``, and
    ``keep`` flags target-leaning docs (rounded log_w > 0).

    Scale — the whole point of DSIR's hashing: both LMs together are ≤B
    rows, so scoring 100 TB is (1) one explode + hash-agg on ≤1024 keys
    (map-side combine collapses each partition to ≤1024 rows before the
    shuffle), (2) a broadcast join of the λ table, (3) one doc-keyed sum.
    No global sort, no driver state beyond a 1024-row broadcast.  The λ
    ratio is computed from exact integer cross-products (< 2^53 here;
    at production counts compute λ as ln(ct+1)−ln(Tt+B)−ln(cr+1)+ln(Tr+B)
    to stay in range — same values to fp rounding).
    """
    toks = (
        docs.select("doc_id", "arr") if docs is not None else _tokenized_arr(spark, sf_dir)
    )
    # the hashed feature stream feeds TWO independent legs (the LM-build
    # aggregate and the scoring join) whose subplans share no exchange, so
    # without this eager checkpoint the explode + md5 per feature runs
    # twice; the materialized frame is three ints per occurrence.  At
    # extreme scale swap for persist(DISK_ONLY) or accept the recompute —
    # the trade is stated, not hidden.
    fb = checkpoint(_dsir_fb(toks, (F.col("doc_id") % _DSIR_TARGET_MOD == 0)))
    return _dsir_weights(toks, fb, fb)


def _dsir_fb(toks: DataFrame, is_t, buckets: int = _DSIR_BUCKETS) -> DataFrame:
    """(doc_id, b, is_t) hashed unigram+bigram feature stream — the ONE
    definition of DSIR's feature space, shared by the gate op (mod-split
    flag) and the explicit-target production face."""
    B = buckets
    bi = (
        "CASE WHEN size(arr) >= 2 THEN "
        "transform(sequence(1, size(arr) - 1), "
        "i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1))) "
        "ELSE array() END"
    )
    feats = toks.select("doc_id", F.explode(F.expr(f"concat(arr, {bi})")).alias("g"))
    u52 = "CAST(conv(substring(md5(concat('dsir:', g)), 1, 13), 16, 10) AS BIGINT)"
    return feats.select(
        "doc_id", F.expr(f"{u52} % {B}").alias("b"), is_t.alias("is_t")
    )


def dsir_weights_frames(
    spark: SparkSession,
    raw_docs: DataFrame,
    target_docs: DataFrame,
    text_col: str = "text",
    buckets: int = _DSIR_PROD_BUCKETS,
    log_domain: bool = True,
) -> DataFrame:
    """The production face of docs_dsir_weights: score an arbitrary RAW
    frame against an EXPLICIT target corpus (separate tables, ids may
    collide — the target only trains p_target, it is never scored).  The
    gate op derives both sides from its deterministic mod split; this
    face is what a real pipeline calls with (yesterday's crawl, curated
    target set).  Same plan shape: two bounded bucket aggregates, driver
    scalars, broadcast λ, one doc-keyed sum over the raw side.

    Defaults are the PRODUCTION parameters: the published 10k hashed
    buckets and log-domain λ (ln(ct+1) − ln(Tt+B) − ln(cr+1) + ln(Tr+B)),
    which never forms the cross-product and so stays in double range at
    web-scale counts.  Pass ``buckets=_DSIR_BUCKETS, log_domain=False``
    to reproduce the gate op's oracle-parity arithmetic exactly (the
    parity pytest does)."""
    toks_t = _TOKS_T.format(col=text_col)
    raw_toks = raw_docs.select("doc_id", F.expr(toks_t).alias("arr"))
    tgt_toks = target_docs.select("doc_id", F.expr(toks_t).alias("arr"))
    fb_raw = checkpoint(_dsir_fb(raw_toks, F.lit(False), buckets=buckets))
    fb_lm = fb_raw.unionByName(_dsir_fb(tgt_toks, F.lit(True), buckets=buckets))
    return _dsir_weights(
        raw_toks, fb_lm, fb_raw, buckets=buckets, log_domain=log_domain
    )


def _dsir_weights(
    score_toks: DataFrame,
    fb_lm: DataFrame,
    fb_score: DataFrame,
    buckets: int = _DSIR_BUCKETS,
    log_domain: bool = False,
) -> DataFrame:
    """Score the docs of ``score_toks`` with the λ table trained from
    ``fb_lm`` — feature rows scored are ``fb_score`` (the gate op passes
    its one checkpointed frame as both; the frames face trains on
    raw ∪ target but scores raw only).  One row per scored document.
    ``log_domain`` selects the λ arithmetic: False = exact-integer
    cross-product ratio (oracle-parity, needs counts < 2^53); True =
    sum/difference of logs (production — unbounded counts, equal to the
    cross-product to fp rounding)."""
    B = buckets
    # the ≤B-row LM is materialized once (its aggregate would otherwise
    # re-execute under every consumer subplan — verified: no exchange
    # reuse between them), and the two corpus totals come to the driver
    # as scalars (codebook-style collect, bounded by construction) so λ
    # is pure literal arithmetic — no one-row cross join at all
    bc = checkpoint(
        fb_lm.groupBy("b").agg(
            F.sum(F.col("is_t").cast("long")).alias("ct"),
            F.sum((~F.col("is_t")).cast("long")).alias("cr"),
        )
    )
    tot = bc.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr")).collect()[0]
    tt, tr = int(tot["tt"] or 0), int(tot["tr"] or 0)
    if log_domain:
        import math

        lam = (
            F.log((F.col("ct") + 1).cast("double"))
            - F.lit(math.log(tt + B))
            - F.log((F.col("cr") + 1).cast("double"))
            + F.lit(math.log(tr + B))
        )
    else:
        lam = F.log(
            ((F.col("ct") + 1) * F.lit(tr + B)).cast("double")
            / ((F.col("cr") + 1) * F.lit(tt + B)).cast("double")
        )
    lm = bc.select("b", lam.alias("lam"))
    return _dsir_score(score_toks, fb_score, lm)


def _dsir_score(
    score_toks: DataFrame, fb_score: DataFrame, lm: DataFrame
) -> DataFrame:
    """Score per-doc feature rows against a λ table — the apply half of
    DSIR, shared by the in-plan ops (λ trained in the same plan) and the
    persisted-model face (λ loaded from storage).  One row per scored
    document; a doc whose text tokenizes to nothing scores 0, not
    absent."""
    scored = (
        fb_score.join(F.broadcast(lm), "b")
        .groupBy("doc_id")
        # + 0.0 canonicalizes IEEE -0.0 (a doc whose λ sum rounds to zero
        # from below) to +0.0 — the oracle does the same
        .agg(
            F.count("*").alias("n_feats"),
            (F.round(F.sum("lam"), 4) + F.lit(0.0)).alias("log_w"),
        )
    )
    return (
        score_toks.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            F.coalesce(F.col("log_w"), F.lit(0.0)).alias("log_w"),
            (F.coalesce(F.col("log_w"), F.lit(0.0)) > 0).cast("int").alias("keep"),
        )
    )


# Incremental-dedup Bloom filter sizing.  The prior-snapshot stand-in is
# the deterministic doc_id % 4 == 0 slice ("the previous crawl"); m/k give
# a theoretical FP rate of (1 - e^{-k·n/m})^k ≈ 2e-5 at the sf0.1 prior
# size — the pytest pins ≤ 1%.  Production sizing: m ≈ 1.44·n·log2(1/fp)
# bits; the in-plan literal works to m ≈ 2^27 (16 MB constant-folded once
# per executor).  Past that, keep the SAME build (the bounded pos-domain
# agg below) and swap the probe to an equality join of the ≤m/64-row
# (word_idx, word) frame — still no O(n²) anywhere.
_BLOOM_PRIOR_MOD = 4
_BLOOM_BITS = 1 << 17
_BLOOM_K = 3


def _bloom_positions(col, seed_tag: str, bits: int = _BLOOM_BITS, k: int = _BLOOM_K):
    """The k xxhash64 bit positions for a value — ONE definition shared by
    the build and probe sides (a seed mismatch would silently break the
    no-false-negative guarantee)."""
    return [
        F.pmod(F.xxhash64(F.lit(f"{seed_tag}:{i}"), col), F.lit(bits))
        for i in range(k)
    ]


def _bloom_words(pos_values, bits: int) -> list[int]:
    """Fold collected bit positions into ``bits // 64`` SIGNED 64-bit words
    (Spark's LongType) — the driver-side half of the build, bounded by the
    filter size regardless of corpus size."""
    words = [0] * (bits // 64)
    for p in pos_values:
        words[p >> 6] |= 1 << (p & 63)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _with_bloom_hit(
    df: DataFrame,
    words: list[int],
    text_col: str = "text",
    seed_tag: str = "bloom",
    bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Append ``out_col`` (1 = all k bits set) testing ``text_col`` against
    a bit-set literal — the ONE probe definition, shared by the gate op
    and the persisted-index probe.  The shift amount is column-valued,
    which only the SQL surface of shiftleft accepts — hence the expr()
    probe over named position columns."""
    probe = df.withColumn("_bloombits", F.lit(words))
    for i, p in enumerate(_bloom_positions(F.col(text_col), seed_tag, bits, k)):
        probe = probe.withColumn(f"_p{i}", p)
    tests = " AND ".join(
        f"(element_at(_bloombits, CAST(shiftright(_p{i}, 6) AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % 64 AS INT))) != 0"
        for i in range(k)
    )
    return probe.withColumn(out_col, F.expr(f"CAST(({tests}) AS INT)")).drop(
        "_bloombits", *[f"_p{i}" for i in range(k)]
    )


def _with_bloom_hit_join(
    df: DataFrame,
    words_df: DataFrame,
    text_col: str = "text",
    seed_tag: str = "bloom",
    bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """The large-m probe: verdict-identical to :func:`_with_bloom_hit`
    but the bit set arrives as a ``(word_idx, word)`` DataFrame instead
    of a constant-folded literal — past m ≈ 2^27 the 16 MB+ literal stops
    being a sane plan constant, while the ≤ bits/64-row word frame stays
    a few-MB broadcast up to m ≈ 2^31.  k broadcast LEFT equi-joins on
    the word index (one per hash), so the fat text side never shuffles —
    each probe row does k in-memory hash lookups, the join-shaped twin of
    the literal's k element_at's.  A word index absent from the frame is
    an all-zero word (sparse storage), hence the coalesce-to-0."""
    probe = df
    for i, p in enumerate(_bloom_positions(F.col(text_col), seed_tag, bits, k)):
        probe = probe.withColumn(f"_p{i}", p)
    for i in range(k):
        w_i = words_df.select(
            F.col("word_idx").alias(f"_wi{i}"), F.col("word").alias(f"_w{i}")
        )
        probe = probe.join(
            F.broadcast(w_i),
            F.expr(f"CAST(shiftright(_p{i}, 6) AS INT)") == F.col(f"_wi{i}"),
            "left",
        )
    tests = " AND ".join(
        f"(coalesce(_w{i}, CAST(0 AS BIGINT))"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % 64 AS INT))) != 0"
        for i in range(k)
    )
    return probe.withColumn(out_col, F.expr(f"CAST(({tests}) AS INT)")).drop(
        *[c for i in range(k) for c in (f"_p{i}", f"_wi{i}", f"_w{i}")]
    )


def dedup_bloom_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a prior corpus snapshot via a from-scratch
    JVM-side Bloom filter — the cross-RUN face of dedup_exact: when
    yesterday's 100 TB crawl is already deduped, today's increment only
    needs membership AGAINST it, not a join WITH it.  Rows-only: the
    xxhash64 family has no DuckDB equivalent; the guarantee pytest pins is
    zero false negatives + FP rate under the sizing bound.

    Scale: the build never moves the prior corpus — each partition
    map-side-combines its k·n bit positions onto the ≤m-value position
    domain, so the shuffle AND the driver collect are bounded by m (2048
    longs here), independent of corpus size; Catalyst constant-folds the
    bit-set literal once and ships it with the plan (the sign-LSH
    hyperplane trick).  The probe is a stateless per-row expression —
    zero shuffle, zero join, streams at scan speed.
    """
    d = _docs(spark, sf_dir)
    prior = d.filter(F.col("doc_id") % _BLOOM_PRIOR_MOD == 0)
    pos_rows = (
        prior.select(F.explode(F.array(*_bloom_positions(F.col("text"), "bloom"))).alias("pos"))
        .distinct()
        .collect()
    )
    words = _bloom_words([r["pos"] for r in pos_rows], _BLOOM_BITS)
    return _with_bloom_hit(
        d.filter(F.col("doc_id") % _BLOOM_PRIOR_MOD != 0), words
    ).select("doc_id", "bloom_hit")


# Whole-doc packing budget: bins hold ≤128 tokens; docs stay intact (the
# padding-free SFT/finetune layout), unlike docs_token_chunks which splits
# the concatenated stream at exact chunk boundaries (the pretraining
# layout).  16 shards bound the sequential scan each packer performs.
_PACK_TOKENS = 128
_PACK_SHARDS = 16


def docs_pack_bins(
    spark: SparkSession,
    sf_dir: str,
    shards: int = _PACK_SHARDS,
    budget: int = _PACK_TOKENS,
    split_oversize: bool = False,
) -> DataFrame:
    """Whole-document sequence packing (next-fit): docs are dealt into
    ``shards`` shards by an md5 draw, ordered deterministically within
    each shard, then greedily packed into bins of ≤``budget`` tokens
    WITHOUT splitting documents — a new bin opens when the next doc
    would overflow the current one; docs longer than the budget sit alone
    in an ``oversize`` bin.  Complements docs_token_chunks (which cuts the
    concatenated stream mid-document — right for pretraining, wrong when
    each example must stay contiguous).

    ``split_oversize=True`` is the layout that never emits an over-budget
    bin: a doc longer than the budget is chunked at token granularity
    into budget-sized pieces (last piece carries the remainder), pieces
    stay adjacent in order, and each row gains ``piece_idx``/``n_pieces``
    (piece_idx > 0 = continuation — the downstream loader's signal to
    mask the boundary).  The gate default stays False so the oracle's
    recursive next-fit matches row-for-row; the split mode's invariants
    (no bin over budget, pieces partition the doc) are pytest-pinned.

    Scale: next-fit is inherently sequential (each bin boundary depends on
    the running fill), so the parallel unit is the shard: one grouped-map
    applyInPandas per shard walks its docs once (one Arrow crossing, O(n)
    Python over row COUNTS only — never text).  ``shards`` is the
    parallelism knob — set it ≈ total cluster cores at production scale
    (the gate default stays 16 so the oracle recursion matches); the md5
    deal keeps shards uniform, so no packer straggles.  The tokenize
    itself stays JVM-side — only (doc_id, n_tok, order key) enter Python.
    """
    import pandas as pd

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.expr(_TOKS)).cast("long").alias("n_tok"),
        F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))).alias("k"),
    )
    d = d.withColumn(
        "shard",
        F.expr("CAST(conv(substring(k, 1, 13), 16, 10) AS BIGINT)") % shards,
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["k", "doc_id"], kind="mergesort").reset_index(drop=True)
        bin_idx, fill = 0, 0
        bins = []
        for n in pdf["n_tok"]:
            if bin_idx == 0 or fill + n > budget:
                bin_idx += 1
                fill = int(n)
            else:
                fill += int(n)
            bins.append(bin_idx)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "shard": pdf["shard"],
                "pos": range(1, len(pdf) + 1),
                "bin_idx": bins,
                "n_tok": pdf["n_tok"],
                "oversize": (pdf["n_tok"] > budget).astype("int32"),
            }
        )

    def pack_split(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["k", "doc_id"], kind="mergesort").reset_index(drop=True)
        # explode over-budget docs into budget-sized pieces (counts only —
        # the actual token slicing is the loader's positional arithmetic)
        items = []  # (doc_id, shard, piece_idx, n_pieces, n)
        for did, sh, n in zip(pdf["doc_id"], pdf["shard"], pdf["n_tok"]):
            n = int(n)
            if n > budget:
                q, r = divmod(n, budget)
                sizes = [budget] * q + ([r] if r else [])
                for pi, s in enumerate(sizes):
                    items.append((did, sh, pi, len(sizes), s))
            else:
                items.append((did, sh, 0, 1, n))
        bin_idx, fill = 0, 0
        bins = []
        for _, _, _, _, n in items:
            if bin_idx == 0 or fill + n > budget:
                bin_idx += 1
                fill = n
            else:
                fill += n
            bins.append(bin_idx)
        return pd.DataFrame(
            {
                "doc_id": [i[0] for i in items],
                "shard": [i[1] for i in items],
                "pos": range(1, len(items) + 1),
                "bin_idx": bins,
                "n_tok": [i[4] for i in items],
                "piece_idx": [i[2] for i in items],
                "n_pieces": [i[3] for i in items],
            }
        )

    if split_oversize:
        schema = (
            "doc_id long, shard long, pos long, bin_idx long, n_tok long, "
            "piece_idx int, n_pieces int"
        )
        return d.groupBy("shard").applyInPandas(pack_split, schema=schema)
    schema = (
        "doc_id long, shard long, pos long, bin_idx long, n_tok long, oversize int"
    )
    return d.groupBy("shard").applyInPandas(pack, schema=schema)


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect, same column names + rounding as above)
# ---------------------------------------------------------------------------

_SQL_EMB_NORM = (
    "SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, "
    "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm "
    "FROM embeddings"
)

_SQL_DOT = "list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * nv[i]))"

# Duplicated-span coverage CTE chain (toks → positional grams → cross-doc
# dup grams → covered intervals), shared by the dedup_span_ngrams and
# dedup_span_strip oracles — the SQL mirror of _dup_gram_cov.  A bare CTE
# list ending in `cov`; callers prepend WITH and append their own CTEs.
_SQL_SPANCOV_CTES = f"""toks AS (
            SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
        ), pos AS (
            SELECT doc_id, arr,
                   unnest(range(1, greatest(len(arr) - {_SPAN_N - 2}, 1))) AS i
            FROM toks
        ), grams AS (
            SELECT doc_id, CAST(i AS BIGINT) AS s, CAST(i + {_SPAN_N - 1} AS BIGINT) AS e,
                   array_to_string(arr[i:i + {_SPAN_N - 1}], ' ') AS g
            FROM pos
        ), dup AS (
            SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
        ), cov AS (
            SELECT doc_id, s, e FROM grams JOIN dup USING (g)
        )"""

# Quality-weighted repeat-plan CTE chain (rbase → rscored → rplan), shared
# by the docs_repeat_plan and docs_repeat_order oracles.  A bare CTE list
# ending in `rplan`; callers prepend WITH and append their own CTEs.
#: DuckDB mirror of ``_quality_expr()`` over (text, arr) columns —
#: left-associated exactly like Spark's (A*B)*C so the IEEE product is
#: bit-identical; shared by the repeat-plan and curriculum oracles.
_SQL_QEXPR = """least(len(arr) / 64.0, 1.0)
                       * (0.5 + 0.5 * (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                                       * 1.0 / greatest(length(text), 1)))
                       * (1.0 - 0.5 * (len(list_filter(arr,
                                           w -> w IN ('the','a','and','of','to','in','is')))
                                       * 1.0 / greatest(len(arr), 1)))"""

_SQL_REPEAT_CTES = f"""rbase AS (
            SELECT doc_id, text, {_SQL_TOKS} AS arr FROM documents
        ), rscored AS (
            -- x = _REPEAT_MAX * q with q parenthesized so the IEEE multiply
            -- order matches Spark's 4.0 * ((A*B)*C) exactly
            SELECT doc_id,
                   {float(_REPEAT_MAX)} * (
                       {_SQL_QEXPR}
                   ) AS x,
                   CAST(concat('0x', substr(md5('rep:' || CAST(doc_id AS VARCHAR)), 1, 13))
                        AS BIGINT) AS u
            FROM rbase
        ), rplan AS (
            SELECT doc_id, x,
                   CAST(floor(x) AS BIGINT)
                   + CAST(CAST(u AS DOUBLE) < (x - floor(x)) * {float(1 << 52)} AS BIGINT)
                   AS n_repeats
            FROM rscored
        )"""

# Capped exact-Jaccard pair CTE chain (shared by the dedup_ngram_jaccard
# oracle and the dedup_clusters transitive-closure oracle).  A bare CTE
# list ending in `pairs`; callers prepend WITH / WITH RECURSIVE and append
# their own SELECT (and further CTEs).
_SQL_JACCARD_PAIRS = f"""
        toks AS (
            SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
        ), sh0 AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM toks
        ), sh AS (
            -- same document-frequency cap as the Spark side (_MAX_SHINGLE_DF)
            SELECT doc_id, sh FROM sh0
            QUALIFY count(*) OVER (PARTITION BY sh) <= {_MAX_SHINGLE_DF}
        ), sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT doc_a, doc_b,
                       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
            ) WHERE jaccard >= 0.5
        )
"""

# Gopher repetition-quality CTE chain (names prefixed g* so it composes
# with the jaccard chain inside one statement).  Ends with `gj`
# (doc_id, n_tokens, top_frac, dup_frac); callers prepend WITH [RECURSIVE].
_SQL_GOPHER_CTES = f"""
        gtoks AS (
            SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
        ), gbase AS (
            SELECT doc_id, arr, len(arr) AS n_tokens FROM gtoks
        ), guni AS (
            SELECT doc_id, max(c) AS top_uni FROM (
                SELECT doc_id, w, count(*) AS c
                FROM (SELECT doc_id, unnest(arr) AS w FROM gbase) GROUP BY 1, 2
            ) GROUP BY doc_id
        ), gtri AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tri, count(*) AS n_tri_distinct
            FROM (
                SELECT doc_id, g, count(*) AS c FROM (
                    SELECT doc_id, unnest(list_transform(range(1, greatest(len(arr) - 1, 1)),
                           i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS g
                    FROM gbase WHERE len(arr) >= 3
                ) GROUP BY 1, 2
            ) GROUP BY doc_id
        ), gj AS (
            SELECT b.doc_id, b.n_tokens,
                   coalesce(top_uni, 0) * 1.0 / greatest(b.n_tokens, 1) AS top_frac,
                   CASE WHEN coalesce(n_tri, 0) > 0
                        THEN 1.0 - n_tri_distinct * 1.0 / n_tri ELSE 0.0 END AS dup_frac
            FROM gbase b LEFT JOIN guni USING (doc_id) LEFT JOIN gtri USING (doc_id)
        )
"""

# Sign-LSH oracle legs: the SAME hyperplane literals render into DuckDB
# syntax; MATERIALIZED CTEs compute the band keys exactly once (DuckDB
# would otherwise inline the CTE into every join reference and re-evaluate
# the projections ~16x); candidates come from one self-join on the
# unnested band_key — structurally the Spark plan's mirror.

_SQL_SIGNLSH_CTES = f"""
        e AS MATERIALIZED ({_SQL_EMB_NORM}),
        eb AS (SELECT vec_id, {_duck_signbits_expr(_SIGNLSH_BANDS, _SIGNLSH_BITS, _EMB_DIM)} AS sb FROM e),
        banded AS MATERIALIZED (
            SELECT vec_id, unnest({_duck_bandkeys_expr(_SIGNLSH_BANDS, _SIGNLSH_BITS)}) AS band_key FROM eb
        )
"""

_SQL_SIM_ANN_LSH = f"""
        WITH {_SQL_SIGNLSH_CTES},
        q AS (SELECT vec_id, band_key FROM banded WHERE vec_id % 50 = 0),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
            FROM q JOIN banded n ON q.band_key = n.band_key AND n.vec_id <> q.vec_id
        ),
        p AS (
            SELECT c.query_id, c.neighbor_id,
                   round({_SQL_DOT.replace('qv', 'a.v').replace('nv', 'b.v')}
                         / (a.nrm * b.nrm), 4) AS cos_sim
            FROM cand c
            JOIN e a ON a.vec_id = c.query_id
            JOIN e b ON b.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM p
        ) WHERE rank <= 3
"""

_SQL_DEDUP_EMB_COSINE = f"""
        WITH {_SQL_SIGNLSH_CTES},
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, cos_sim FROM (
            SELECT c.vec_a, c.vec_b,
                   round({_SQL_DOT.replace('qv', 'a.v').replace('nv', 'b.v')}
                         / (a.nrm * b.nrm), 4) AS cos_sim
            FROM cand c
            JOIN e a ON a.vec_id = c.vec_a
            JOIN e b ON b.vec_id = c.vec_b
        ) WHERE cos_sim >= 0.3
"""

ORACLES: dict[str, str] = {
    "dedup_exact": (
        "SELECT sha256(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep_doc_id "
        "FROM documents GROUP BY 1"
    ),
    "dedup_ngram_jaccard": f"""
        WITH {_SQL_JACCARD_PAIRS}
        SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    "text_langid": f"""
        WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS arr FROM documents)
        SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
               CASE WHEN en_hits = 0 AND de_hits = 0 AND fr_hits = 0 AND es_hits = 0 THEN 'unknown'
                    WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
                    WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
                    WHEN fr_hits >= es_hits THEN 'fr' ELSE 'es' END AS lang_guess
        FROM (
            SELECT doc_id,
                   len(list_filter(arr, w -> w IN ('the','a','and','of','to'))) AS en_hits,
                   len(list_filter(arr, w -> w IN ('der','die','und','das','ein'))) AS de_hits,
                   len(list_filter(arr, w -> w IN ('le','la','et','les','des'))) AS fr_hits,
                   len(list_filter(arr, w -> w IN ('el','los','las','una','y'))) AS es_hits
            FROM toks
        )
    """,
    "text_quality": f"""
        WITH base AS (
            SELECT doc_id,
                   length(text) AS n_chars_m,
                   len({_SQL_TOKS}) AS n_tokens,
                   len(list_filter({_SQL_TOKS}, w -> w IN ('the','a','and','of','to','in','is'))) AS n_stop,
                   length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha
            FROM documents
        ), ratios AS (
            SELECT doc_id, n_chars_m, n_tokens,
                   n_stop * 1.0 / greatest(n_tokens, 1) AS stop_raw,
                   n_alpha * 1.0 / greatest(n_chars_m, 1) AS alpha_raw
            FROM base
        )
        SELECT doc_id, n_chars_m, n_tokens,
               round(stop_raw, 4) AS stopword_ratio,
               round(alpha_raw, 4) AS alpha_ratio,
               round(least(n_tokens / 64.0, 1.0) * (0.5 + 0.5 * alpha_raw)
                     * (1.0 - 0.5 * stop_raw), 4) AS quality_score
        FROM ratios
    """,
    "text_tokens": r"""
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS ws_tokens,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens
        FROM documents
    """,
    "text_fingerprint": f"""
        SELECT doc_id,
               sha256(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')) AS fingerprint
        FROM documents
    """,
    "dedup_keep_best": f"""
        WITH scored AS (
            SELECT doc_id, sha256(text) AS text_hash,
                   least(len({_SQL_TOKS}) / 64.0, 1.0)
                   * (0.5 + 0.5 * (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                                   * 1.0 / greatest(length(text), 1)))
                   * (1.0 - 0.5 * (len(list_filter({_SQL_TOKS},
                                       w -> w IN ('the','a','and','of','to','in','is')))
                                   * 1.0 / greatest(len({_SQL_TOKS}), 1))) AS q
            FROM documents
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY text_hash
                                         ORDER BY q DESC, doc_id) AS rn
            FROM scored
        )
        SELECT text_hash,
               min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
               count(*) - 1 AS n_discarded,
               round(max(q), 4) AS best_quality
        FROM ranked GROUP BY text_hash
    """,
    "text_pii_redact": f"""
        WITH aug AS (
            SELECT doc_id,
                   text || ' contact user' || doc_id
                        || '@mail.example.com or https://ex.org/d/' || doc_id
                        || '?ref=corpus' AS raw
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(raw, '{_URL_RE}')) AS n_urls,
               regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_URL_RE}', '<URL>', 'g') AS redacted
        FROM aug
    """,
    "text_length_stats": """
        SELECT lang,
               count(*) AS n_docs,
               round(avg(n_chars), 2) AS avg_chars,
               round(quantile_cont(n_chars, 0.5), 2) AS p50_chars,
               round(quantile_cont(n_chars, 0.9), 2) AS p90_chars,
               max(n_chars) AS max_chars
        FROM documents GROUP BY lang
    """,
    "sim_cosine_topk": f"""
        WITH e AS ({_SQL_EMB_NORM}),
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e WHERE vec_id % 50 = 0),
        p AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   round({_SQL_DOT.replace('nv', 'e.v')} / (q.qnrm * e.nrm), 4) AS cos_sim
            FROM q, e WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM p
        ) WHERE rank <= 5
    """,
    "sim_ann_lsh": _SQL_SIM_ANN_LSH,
    "sim_ann_ivf": f"""
        WITH e AS ({_SQL_EMB_NORM}),
        cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        scored AS (
            SELECT e.vec_id, e.v, e.nrm, cent.cent_id,
                   round(list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cent.cv[i]))
                         / (e.nrm * cent.cnrm), 4) AS ccos
            FROM e, cent
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crank
            FROM scored
        ),
        assigned AS (SELECT vec_id, cent_id AS cell, v, nrm FROM ranked WHERE crank = 1),
        probes AS (
            SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cent_id AS cell
            FROM ranked WHERE crank <= 2 AND vec_id % 50 = 0
        ),
        p AS (
            SELECT probes.query_id, a.vec_id AS neighbor_id, probes.cell,
                   round(list_sum(list_transform(range(1, len(probes.qv) + 1), i -> probes.qv[i] * a.v[i]))
                         / (probes.qnrm * a.nrm), 4) AS cos_sim
            FROM probes JOIN assigned a ON probes.cell = a.cell AND a.vec_id <> probes.query_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM p
        ) WHERE rank <= 3
    """,
    "dedup_embedding_cosine": _SQL_DEDUP_EMB_COSINE,
    # same first-16 stand-in codebook + round-to-4 assignment CTEs as the
    # proven sim_ann_ivf oracle; MATERIALIZED pins assigned to compute once
    # (DuckDB re-inlines plain CTEs per reference)
    "dedup_semantic": f"""
        WITH e AS ({_SQL_EMB_NORM}),
        cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        scored AS (
            SELECT e.vec_id, e.v, e.nrm, cent.cent_id,
                   round(list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cent.cv[i]))
                         / (e.nrm * cent.cnrm), 4) AS ccos
            FROM e, cent
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crank
            FROM scored
        ),
        assigned AS MATERIALIZED (SELECT vec_id, cent_id AS cell, v, nrm FROM ranked WHERE crank = 1),
        p AS (
            SELECT a.vec_id AS vec_a,
                   round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
                         / (a.nrm * b.nrm), 4) AS cos_sim
            FROM assigned a JOIN assigned b ON a.cell = b.cell AND b.vec_id < a.vec_id
        ),
        d AS (
            SELECT vec_a AS vec_id, count(*) AS n_dups FROM p
            WHERE cos_sim >= {_SEMDEDUP_TAU} GROUP BY vec_a
        )
        SELECT a.vec_id, a.cell,
               CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
               CAST(d.n_dups IS NULL AS INT) AS keep
        FROM assigned a LEFT JOIN d USING (vec_id)
    """,
    "text_perplexity": f"""
        WITH {_SQL_PPL_CTES}
        SELECT doc_id, n_tokens, avg_logloss, lm_keep,
               CASE WHEN avg_logloss <= p33 THEN 'head'
                    WHEN avg_logloss <= p66 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM ppl_scored, ppl_cuts
    """,
    "text_perplexity_bigram": f"""
        WITH bga AS (
            SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
        ),
        bg AS (
            SELECT doc_id,
                   unnest(arr[1:len(arr) - 1]) AS w1,
                   unnest(arr[2:len(arr)]) AS w2
            FROM bga WHERE len(arr) >= 2
        ),
        dbg AS (
            SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY doc_id, w1, w2
        ),
        cbg AS (SELECT w1, w2, sum(c) AS c12 FROM dbg GROUP BY w1, w2),
        c1 AS (SELECT w1, sum(c12) AS c1 FROM cbg GROUP BY w1),
        vtot AS (
            SELECT count(DISTINCT w) AS v_size
            FROM (SELECT unnest(arr) AS w FROM bga)
        ),
        bj AS (
            SELECT dbg.doc_id, dbg.c,
                   -ln(CAST(cbg.c12 + 1 AS DOUBLE)
                       / CAST(c1.c1 + vtot.v_size AS DOUBLE)) AS ll
            FROM dbg JOIN cbg USING (w1, w2) JOIN c1 USING (w1), vtot
        ),
        bscored AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_bigrams,
                   round(sum(c * ll) / sum(c), 4) AS avg_logloss
            FROM bj GROUP BY doc_id
        ),
        bcuts AS (
            SELECT round(quantile_cont(avg_logloss, 1.0 / 3), 4) AS p33,
                   round(quantile_cont(avg_logloss, 2.0 / 3), 4) AS p66
            FROM bscored
        )
        SELECT doc_id, n_bigrams, avg_logloss,
               CASE WHEN avg_logloss <= p33 THEN 'head'
                    WHEN avg_logloss <= p66 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM bscored, bcuts
    """,
    "text_bpe_pairs": f"""
        WITH toks AS (SELECT unnest({_SQL_TOKS}) AS w FROM documents),
        vocab AS (SELECT w, count(*) AS wc FROM toks GROUP BY w),
        pairs AS (
            SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair, wc
            FROM vocab WHERE len(w) >= 2
        )
        SELECT pair, CAST(sum(wc) AS BIGINT) AS freq
        FROM pairs GROUP BY pair
        ORDER BY freq DESC, pair LIMIT {_BPE_TOPK}
    """,
    "embed_label_stats": f"""
        SELECT label, count(*) AS n_vecs, round(avg(nrm), 4) AS avg_norm
        FROM ({_SQL_EMB_NORM}) GROUP BY label
    """,
    # same LCG weight literals as the Spark side; the dot folds
    # left-to-right from 0 (the _DOT/_SQL_DOT pattern) so the margin is
    # bit-identical, and exp() sees the 6-decimal-rounded margin in both
    # engines (see embed_quality_score)
    "embed_quality_score": f"""
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), m AS (
            SELECT vec_id, label,
                   list_sum(list_transform(range(1, 65),
                       i -> v[i] * ([{", ".join("%r" % c for c in _quality_classifier_weights()[1])}])[i]))
                   + {_quality_classifier_weights()[0]!r} AS margin
            FROM e
        )
        SELECT vec_id, label,
               round(1.0 / (1.0 + exp(-round(margin, 6))), 4) AS quality_score,
               CAST(margin >= 0 AS INT) AS keep
        FROM m
    """,
    "text_gopher_quality": f"""
        WITH {_SQL_GOPHER_CTES}
        SELECT doc_id, n_tokens,
               round(top_frac, 4) AS top_unigram_frac,
               round(dup_frac, 4) AS dup_trigram_frac,
               CAST(n_tokens >= 8 AND top_frac <= 0.2 AND dup_frac <= 0.3 AS INT) AS gopher_pass
        FROM gj
    """,
    "decontaminate_ngram": f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(arr) - 3, 1)),
                   i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] || ' ' || arr[i+4]))) AS sh
            FROM toks WHERE len(arr) >= 5
        ), bench AS (
            SELECT DISTINCT sh FROM sh WHERE doc_id % {_DECON_BENCH_MOD} = 0
        ), train AS (
            SELECT * FROM sh WHERE doc_id % {_DECON_BENCH_MOD} <> 0
        ), hits AS (
            SELECT doc_id, count(*) AS n_overlap FROM train
            WHERE sh IN (SELECT sh FROM bench) GROUP BY doc_id
        ), totals AS (
            SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_shingles, coalesce(h.n_overlap, 0) AS n_overlap,
               round(coalesce(h.n_overlap, 0) * 1.0 / greatest(t.n_shingles, 1), 4) AS contam_frac,
               CAST(coalesce(h.n_overlap, 0) > 0 AS INT) AS contaminated
        FROM totals t LEFT JOIN hits h USING (doc_id)
    """,
    "decontaminate_jaccard": f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
        ), sh0 AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM toks
        ), sh AS (
            -- same corpus-wide document-frequency cap as the Spark side
            SELECT doc_id, sh FROM sh0
            QUALIFY count(*) OVER (PARTITION BY sh) <= {_MAX_SHINGLE_DF}
        ), sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT t.doc_id, b.doc_id AS bench_id, count(*) AS n_inter
            FROM sh t JOIN sh b USING (sh)
            WHERE t.doc_id % {_DECON_BENCH_MOD} <> 0
              AND b.doc_id % {_DECON_BENCH_MOD} = 0
            GROUP BY t.doc_id, b.doc_id
        ), jac AS (
            SELECT i.doc_id, i.bench_id,
                   i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) AS jacc
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_id
            JOIN sizes sb ON sb.doc_id = i.bench_id
        ), best AS (
            SELECT doc_id, bench_id, jacc,
                   count(*) OVER (PARTITION BY doc_id) AS n_candidates,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY jacc DESC, bench_id) AS rn
            FROM jac
        )
        SELECT s.doc_id, s.n_sh,
               coalesce(b.n_candidates, 0) AS n_candidates,
               coalesce(b.bench_id, -1) AS best_match,
               round(coalesce(b.jacc, 0.0), 4) AS max_jaccard,
               CAST(coalesce(b.jacc, 0.0) >= {_DECON_JACC_TAU} AS INT) AS contaminated
        FROM sizes s LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        WHERE s.doc_id % {_DECON_BENCH_MOD} <> 0
    """,
    "docs_repeat_plan": f"""
        WITH {_SQL_REPEAT_CTES}
        SELECT doc_id, x AS expected_repeats, n_repeats FROM rplan
    """,
    "docs_repeat_order": f"""
        WITH {_SQL_REPEAT_CTES},
        rcopies AS (
            SELECT doc_id, n_repeats,
                   unnest(range(1, n_repeats + 1)) AS copy_idx
            FROM rplan WHERE n_repeats > 0
        ), rkeyed AS (
            SELECT doc_id, CAST(copy_idx AS BIGINT) AS copy_idx, n_repeats,
                   md5('ord:' || CAST(doc_id AS VARCHAR) || '#' || CAST(copy_idx AS VARCHAR)) AS shuffle_key
            FROM rcopies
        )
        SELECT doc_id, copy_idx, n_repeats, shuffle_key,
               row_number() OVER (ORDER BY shuffle_key, doc_id, copy_idx) AS train_rank
        FROM rkeyed
    """,
    "docs_split_holdout": f"""
        WITH hdraw AS (
            SELECT doc_id, source,
                   md5('hold:' || CAST(doc_id AS VARCHAR)) AS draw
            FROM documents
        ), hrank AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY draw, doc_id) AS holdout_rank,
                   count(*) OVER (PARTITION BY source) AS n_source
            FROM hdraw
        )
        SELECT doc_id, source, holdout_rank,
               CASE WHEN holdout_rank
                         <= CAST(ceil({_HOLDOUT_FRAC} * n_source) AS BIGINT)
                    THEN 'val' ELSE 'train' END AS split
        FROM hrank
    """,
    "docs_curriculum_order": f"""
        WITH cbase AS (
            SELECT doc_id, text, {_SQL_TOKS} AS arr FROM documents
        ), cscored AS (
            SELECT doc_id, ({_SQL_QEXPR}) AS q FROM cbase
        )
        SELECT doc_id, q AS quality,
               row_number() OVER (ORDER BY q, doc_id) AS curriculum_rank
        FROM cscored
    """,
    "docs_pps_sample": f"""
        WITH tot AS (
            SELECT sum(n_chars) AS w_total FROM documents
        ), drawn AS (
            SELECT doc_id, n_chars,
                   CAST(concat('0x', substr(md5('pps:' || CAST(doc_id AS VARCHAR)), 1, 13))
                        AS BIGINT) AS u
            FROM documents
        )
        SELECT doc_id, n_chars AS weight
        FROM drawn CROSS JOIN tot
        WHERE CAST(u AS HUGEINT) * w_total
              < CAST({_PPS_TARGET} AS HUGEINT) * {1 << 52} * n_chars
    """,
    "text_tfidf_topk": f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
        ), tc AS (
            SELECT doc_id, n_d, w, count(*) AS c FROM (
                SELECT doc_id, len(arr) AS n_d, unnest(arr) AS w FROM toks
            ) GROUP BY doc_id, n_d, w
        ), dft AS (
            SELECT w, count(*) AS df FROM tc GROUP BY w
        ), nd AS (
            SELECT count(*) AS n_docs_total FROM documents
        ), scored AS (
            -- same operation order as the Spark side: (c/n_d) * (N/df),
            -- each an int->double conversion + one IEEE divide
            SELECT t.doc_id, t.w,
                   (t.c * 1.0 / t.n_d) * (nd.n_docs_total * 1.0 / d.df) AS score
            FROM tc t JOIN dft d USING (w) CROSS JOIN nd
        )
        SELECT doc_id, w AS term,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, w) AS term_rank,
               round(score, 4) AS tfidf
        FROM scored QUALIFY term_rank <= {_TFIDF_TOPK}
    """,
    "docs_token_chunks": f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tok,
                   md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
            FROM documents
        ), ordered AS (
            SELECT doc_id, n_tok,
                   row_number() OVER (ORDER BY shuffle_key, doc_id) AS shuffle_rank,
                   CAST(COALESCE(SUM(n_tok) OVER (
                            ORDER BY shuffle_key, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS tok_start
            FROM toks
        )
        SELECT doc_id, shuffle_rank, n_tok, tok_start,
               tok_start + n_tok AS tok_end,
               tok_start // {_CHUNK_TOKENS} AS chunk_first,
               greatest(tok_start + n_tok - 1, tok_start) // {_CHUNK_TOKENS} AS chunk_last,
               greatest(tok_start + n_tok - 1, tok_start) // {_CHUNK_TOKENS}
                   - tok_start // {_CHUNK_TOKENS} + 1 AS n_chunks_spanned
        FROM ordered
    """,
    "docs_mix_rebalance": f"""
        WITH strata AS (
            SELECT lang, count(*) AS n_l FROM documents GROUP BY lang
        ), tot AS (
            SELECT count(*) AS n_total FROM documents
        ), targets(lang, t_num) AS (
            VALUES {", ".join("('%s', %d)" % kv for kv in sorted(_MIX_TARGETS.items()))}
        ), drawn AS (
            SELECT d.doc_id, d.lang, s.n_l, tot.n_total,
                   COALESCE(t.t_num, 0) AS t_num,
                   CAST(concat('0x', substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 13))
                        AS BIGINT) AS u
            FROM documents d
            JOIN strata s USING (lang)
            LEFT JOIN targets t USING (lang)
            CROSS JOIN tot
        )
        SELECT lang,
               CAST(max(n_l) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN CAST(u AS HUGEINT) * {_MIX_DENOM} * n_l
                                  < CAST(t_num AS HUGEINT) * n_total * {1 << 52}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM drawn GROUP BY lang ORDER BY lang
    """,
    "dedup_span_ngrams": f"""
        WITH {_SQL_SPANCOV_CTES}, marked AS (
            SELECT doc_id, s, e,
                   CASE WHEN s > COALESCE(max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                        THEN 1 ELSE 0 END AS brk
            FROM cov
        ), grp AS (
            SELECT doc_id, s, e,
                   CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS span_idx
            FROM marked
        )
        SELECT doc_id, span_idx, min(s) AS span_start, max(e) AS span_end,
               max(e) - min(s) + 1 AS span_len
        FROM grp GROUP BY doc_id, span_idx
    """,
    "dedup_span_strip": f"""
        WITH {_SQL_SPANCOV_CTES}, covered AS (
            SELECT DISTINCT doc_id, pos FROM (
                SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM cov
            )
        ), tokpos AS (
            -- zipped multi-unnest: token and its 1-based position align
            SELECT doc_id, unnest(arr) AS tok,
                   CAST(unnest(range(1, len(arr) + 1)) AS BIGINT) AS pos
            FROM toks
        ), kept AS (
            SELECT t.doc_id, t.pos, t.tok
            FROM tokpos t ANTI JOIN covered c USING (doc_id, pos)
        ), agg AS (
            SELECT doc_id, count(*) AS n_kept,
                   sha256(array_to_string(list(tok ORDER BY pos), ' ')) AS clean_sha
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.arr) AS BIGINT) AS n_tokens,
               CAST(len(t.arr) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
               COALESCE(a.clean_sha, sha256('')) AS clean_sha
        FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    "docs_pack_bins": f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id,
                   CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tok,
                   md5('pack:' || CAST(doc_id AS VARCHAR)) AS k
            FROM documents
        ), sharded AS (
            SELECT doc_id, n_tok, k,
                   CAST(concat('0x', substr(k, 1, 13)) AS BIGINT) % {_PACK_SHARDS} AS shard
            FROM toks
        ), ordered AS (
            SELECT doc_id, n_tok, shard,
                   CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                        AS BIGINT) AS pos
            FROM sharded
        ), packed(shard, pos, doc_id, n_tok, bin_idx, fill) AS (
            SELECT shard, pos, doc_id, n_tok, CAST(1 AS BIGINT), n_tok
            FROM ordered WHERE pos = 1
            UNION ALL
            SELECT o.shard, o.pos, o.doc_id, o.n_tok,
                   CASE WHEN p.fill + o.n_tok > {_PACK_TOKENS}
                        THEN p.bin_idx + 1 ELSE p.bin_idx END,
                   CASE WHEN p.fill + o.n_tok > {_PACK_TOKENS}
                        THEN o.n_tok ELSE p.fill + o.n_tok END
            FROM packed p JOIN ordered o ON o.shard = p.shard AND o.pos = p.pos + 1
        )
        SELECT doc_id, shard, pos, bin_idx, n_tok,
               CASE WHEN n_tok > {_PACK_TOKENS} THEN 1 ELSE 0 END AS oversize
        FROM packed
    """,
    "docs_dsir_weights": f"""
        WITH {_SQL_DSIR_CTES}
        -- one row per document: a doc with no features scores 0, not absent
        SELECT d.doc_id,
               CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
               COALESCE(s.log_w, 0.0) AS log_w,
               CASE WHEN COALESCE(s.log_w, 0.0) > 0 THEN 1 ELSE 0 END AS keep
        FROM documents d LEFT JOIN dsir_scored s USING (doc_id)
    """,
    "docs_global_shuffle": """
        SELECT doc_id,
               md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
               row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM documents
    """,
    "dedup_cluster_keep_best": f"""
        WITH RECURSIVE {_SQL_JACCARD_PAIRS},
        und AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ), nodes AS (
            SELECT DISTINCT a AS doc_id FROM und
        ), reach(src, dst) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
        ), lab AS (
            SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
        ), scored AS (
            SELECT doc_id,
                   least(len({_SQL_TOKS}) / 64.0, 1.0)
                   * (0.5 + 0.5 * (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                                   * 1.0 / greatest(length(text), 1)))
                   * (1.0 - 0.5 * (len(list_filter({_SQL_TOKS},
                                       w -> w IN ('the','a','and','of','to','in','is')))
                                   * 1.0 / greatest(len({_SQL_TOKS}), 1))) AS q
            FROM documents
        ), ranked AS (
            SELECT l.cluster_id, s.doc_id, s.q,
                   row_number() OVER (PARTITION BY l.cluster_id
                                      ORDER BY s.q DESC, s.doc_id) AS rn
            FROM lab l JOIN scored s USING (doc_id)
        )
        SELECT cluster_id,
               min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
               count(*) - 1 AS n_discarded,
               round(max(q), 4) AS best_quality
        FROM ranked GROUP BY cluster_id
    """,
    "corpus_curate": f"""
        WITH RECURSIVE {_SQL_JACCARD_PAIRS},
        {_SQL_CURATE_DROP_CTES}, {_SQL_GOPHER_CTES},
        curated AS (
            SELECT doc_id, n_tokens FROM gj
            WHERE n_tokens >= 8 AND top_frac <= 0.2 AND dup_frac <= 0.3
              AND doc_id NOT IN (SELECT doc_id FROM dropped)
        )
        SELECT doc_id, n_tokens,
               md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
               row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM curated
    """,
    # corpus_curate + the LM-perplexity tercile leg (drop 'tail', i.e.
    # keep avg_logloss <= p66 on the ROUNDED score) — the full composed
    # pipeline verified as ONE DuckDB query
    "corpus_curate_full": f"""
        WITH RECURSIVE {_SQL_JACCARD_PAIRS},
        {_SQL_CURATE_DROP_CTES}, {_SQL_GOPHER_CTES},
        {_SQL_PPL_CTES},
        ppl_ok AS (
            SELECT s.doc_id FROM ppl_scored s, ppl_cuts
            WHERE s.avg_logloss <= ppl_cuts.p66
        ),
        curated AS (
            SELECT doc_id, n_tokens FROM gj
            WHERE n_tokens >= 8 AND top_frac <= 0.2 AND dup_frac <= 0.3
              AND doc_id IN (SELECT doc_id FROM ppl_ok)
              AND doc_id NOT IN (SELECT doc_id FROM dropped)
        )
        SELECT doc_id, n_tokens,
               md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
               row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM curated
    """,
    # corpus_curate_full + the DSIR importance gate (keep rounded
    # log_w > 0) — the four-filter-family composition verified as ONE
    # DuckDB query
    "corpus_curate_dsir": f"""
        WITH RECURSIVE {_SQL_JACCARD_PAIRS},
        {_SQL_CURATE_DROP_CTES}, {_SQL_GOPHER_CTES},
        {_SQL_PPL_CTES},
        {_SQL_DSIR_CTES},
        ppl_ok AS (
            SELECT s.doc_id FROM ppl_scored s, ppl_cuts
            WHERE s.avg_logloss <= ppl_cuts.p66
        ),
        dsir_ok AS (
            SELECT doc_id FROM dsir_scored WHERE log_w > 0
        ),
        curated AS (
            SELECT doc_id, n_tokens FROM gj
            WHERE n_tokens >= 8 AND top_frac <= 0.2 AND dup_frac <= 0.3
              AND doc_id IN (SELECT doc_id FROM ppl_ok)
              AND doc_id IN (SELECT doc_id FROM dsir_ok)
              AND doc_id NOT IN (SELECT doc_id FROM dropped)
        )
        SELECT doc_id, n_tokens,
               md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
               row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM curated
    """,
    "corpus_curate_decon": f"""
        WITH RECURSIVE {_SQL_JACCARD_PAIRS},
        {_SQL_CURATE_DROP_CTES}, {_SQL_GOPHER_CTES},
        {_SQL_PPL_CTES},
        {_SQL_DSIR_CTES},
        ppl_ok AS (
            SELECT s.doc_id FROM ppl_scored s, ppl_cuts
            WHERE s.avg_logloss <= ppl_cuts.p66
        ),
        dsir_ok AS (
            SELECT doc_id FROM dsir_scored WHERE log_w > 0
        ),
        -- decon legs reuse the shared toks / capped-sh / sizes CTEs
        dn_sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(arr) - 3, 1)),
                   i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] || ' ' || arr[i+4]))) AS sh
            FROM toks WHERE len(arr) >= 5
        ),
        dn_bad AS (
            SELECT DISTINCT doc_id FROM dn_sh
            WHERE doc_id % {_DECON_BENCH_MOD} <> 0
              AND sh IN (SELECT sh FROM dn_sh WHERE doc_id % {_DECON_BENCH_MOD} = 0)
        ),
        dj_bad AS (
            SELECT DISTINCT i.doc_id
            FROM (
                SELECT t.doc_id, b.doc_id AS bench_id, count(*) AS n_inter
                FROM sh t JOIN sh b USING (sh)
                WHERE t.doc_id % {_DECON_BENCH_MOD} <> 0
                  AND b.doc_id % {_DECON_BENCH_MOD} = 0
                GROUP BY t.doc_id, b.doc_id
            ) i
            JOIN sizes sa ON sa.doc_id = i.doc_id
            JOIN sizes sb ON sb.doc_id = i.bench_id
            WHERE i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) >= {_DECON_JACC_TAU}
        ),
        curated AS (
            SELECT doc_id, n_tokens FROM gj
            WHERE n_tokens >= 8 AND top_frac <= 0.2 AND dup_frac <= 0.3
              AND doc_id % {_DECON_BENCH_MOD} <> 0
              AND doc_id IN (SELECT doc_id FROM ppl_ok)
              AND doc_id IN (SELECT doc_id FROM dsir_ok)
              AND doc_id NOT IN (SELECT doc_id FROM dropped)
              AND doc_id NOT IN (SELECT doc_id FROM dn_bad)
              AND doc_id NOT IN (SELECT doc_id FROM dj_bad)
        )
        SELECT doc_id, n_tokens,
               md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
               row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM curated
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {_SQL_JACCARD_PAIRS},
        und AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ), nodes AS (
            SELECT DISTINCT a AS doc_id FROM und
        ), reach(src, dst) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
        ), lab AS (
            SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
        )
        SELECT l.doc_id, l.cluster_id, c.cluster_size
        FROM lab l JOIN (
            SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id
        ) c USING (cluster_id)
    """,
}

QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,  # rows-only (xxhash64 family)
    "dedup_simhash": dedup_simhash,  # rows-only (xxhash64 family)
    "text_langid": text_langid,
    "text_quality": text_quality,
    "text_tokens": text_tokens,
    "text_fingerprint": text_fingerprint,
    "text_pii_redact": text_pii_redact,
    "text_length_stats": text_length_stats,
    "dedup_keep_best": dedup_keep_best,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_ann_ivfpq": sim_ann_ivfpq,  # rows-only (iterative PQ training)
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_semantic": dedup_semantic,
    "dedup_semantic_trained": dedup_semantic_trained,  # rows-only (iterative k-means)
    "text_bpe_pairs": text_bpe_pairs,
    "text_bpe_encode": text_bpe_encode,  # rows-only (greedy merge loop)
    "train_bpe_merges": train_bpe_merges,  # rows-only (argmax-per-round loop)
    "text_bpe_encode_trained": text_bpe_encode_trained,  # rows-only
    "text_perplexity": text_perplexity,
    "text_perplexity_bigram": text_perplexity_bigram,
    "embed_label_stats": embed_label_stats,
    "embed_quality_score": embed_quality_score,
    "embed_kmeans": embed_kmeans,  # rows-only (iterative; invariants in pytest)
    "text_gopher_quality": text_gopher_quality,
    "decontaminate_ngram": decontaminate_ngram,
    "dedup_span_ngrams": dedup_span_ngrams,
    "dedup_span_strip": dedup_span_strip,
    "docs_dsir_weights": docs_dsir_weights,
    "dedup_bloom_prior": dedup_bloom_prior,  # rows-only (xxhash64 family)
    "docs_pack_bins": docs_pack_bins,
    "docs_global_shuffle": docs_global_shuffle,
    "dedup_clusters": dedup_clusters,
    "dedup_minhash_clusters": dedup_minhash_clusters,  # rows-only (xxhash64 family)
    "dedup_cluster_keep_best": dedup_cluster_keep_best,
    "text_length_stats_approx": text_length_stats_approx,  # rows-only (sketch)
    "corpus_curate": corpus_curate,
    "corpus_curate_full": corpus_curate_full,
    "corpus_curate_dsir": corpus_curate_dsir,
    "corpus_curate_decon": corpus_curate_decon,
    "decontaminate_jaccard": decontaminate_jaccard,
    "docs_repeat_plan": docs_repeat_plan,
    "docs_repeat_order": docs_repeat_order,
    "docs_split_holdout": docs_split_holdout,
    "docs_curriculum_order": docs_curriculum_order,
}

# Queries with no ORACLES entry (sketch hash families / iterative loops).
# __spark_entry__ consumes this to keep every hash-verifiable query inside
# the driver's 50-slot budget; test_entry_contract pins the invariant so a
# new rows-only op can't silently displace an oracled one.
ROWS_ONLY = frozenset(QUERIES) - frozenset(ORACLES)

# Oracled queries registered AFTER the driver's 50-slot budget (position
# 51+): the r5 gate composition is frozen — these stay hash-verified in
# the committed tools/check_oracle.py local sweep without displacing a
# query the driver already records.
LATE_ORACLED = frozenset(
    {
        "decontaminate_jaccard",
        "docs_repeat_plan",
        "docs_repeat_order",
        "corpus_curate_decon",
        "docs_split_holdout",
        "docs_curriculum_order",
    }
)
