"""Data-selection operators for training-corpus curation: a linear
quality classifier and DSIR-style importance weighting against a target
distribution.

Not rearview parity — BASELINE.json north-star extensions. Both operators
are the *selection* stage of an LLM data pipeline: after dedup and rule
filters (operators/dedup.py, curation.py), production pipelines score
every document with (a) a trained quality classifier (the CCNet /
GPT-3-style "looks like reference text" filter) and (b) an importance
weight matching the corpus to a target domain mix (DSIR,
arXiv:2302.03169: hashed n-gram features, importance = ratio of target
to raw feature likelihood).

Spark-first shape:

- **classifier_quality**: one narrow JVM projection — the features are
  the deterministic ratios from operators/text.py and the model is a
  fixed-order multiply-add chain, so the score runs inside whole-stage
  codegen at scan speed, zero shuffle, and the oracle reproduces it
  bit-for-bit. (Training the weights is offline/out of scope; the
  operator contract is the scoring plan. The shipped weights are
  hand-set stand-ins with the documented signs: prose-like stopword
  density and length help, punctuation excess hurts.)
- **dsir_importance**: explode (unigram + bigram) features → md5-bucket
  → ONE map-side-combined reduction to per-(doc, bucket) counts — the
  explode runs once and the only corpus-derived shuffle carries
  ≤ |docs| × B rows, never per-token rows. Corpus/target bucket
  distributions re-aggregate that tiny frame; the B-row weight table
  *broadcasts* back onto it for the per-doc score. The corpus never
  shuffles on feature content — the same discipline as
  benchmark_contamination. B (n_buckets) bounds the weight table at any
  corpus size.

Determinism contract: bucket hashing is the md5-prefix scheme
(dedup._hash60) shared with every other gated operator; bucket weights
are single IEEE divisions of exactly-representable integer products
(exact through ~10^15 total feature occurrences — beyond that, compute
weights in log space and drop the oracle to rows-only; the plan shape is
unchanged). Per-doc sums of B-bounded weight terms carry ~1e-11 absolute
float noise — far under the r4 nudge (plans/_exact.py)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rearview_spark.operators.dedup import _hash60
from rearview_spark.operators.text import (
    mean_token_length,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
)

# ---------------------------------------------------------------------------
# Linear quality classifier
# ---------------------------------------------------------------------------

#: (bias, w_len, w_stop, w_punct, w_wordlen) — stand-in weights with the
#: signs a trained prose-vs-boilerplate model learns; see module docstring.
QUALITY_WEIGHTS: tuple[float, float, float, float, float] = (
    -1.0,  # bias: below-threshold by default
    2.2,   # length factor, saturating at 200 tokens
    6.0,   # stopword ratio (prose signal)
    -9.0,  # punctuation ratio (markup/boilerplate signal)
    0.8,   # mean token length factor, saturating at 8 chars
)


def quality_features(col: Column) -> list[Column]:
    """The classifier's four deterministic text features, in weight
    order (after the bias): saturating length factor, stopword ratio,
    punctuation ratio, saturating mean-token-length factor. Single
    source of the feature DEFINITIONS — shared by the scorer
    (:func:`quality_logit`) and the trainer
    (:func:`train_quality_weights`), so a model trained here scores
    identically at serving time."""
    return [
        F.least(token_count(col).cast("double") / F.lit(200.0), F.lit(1.0)),
        stopword_ratio(col),
        punct_ratio(col),
        F.least(mean_token_length(col) / F.lit(8.0), F.lit(1.0)),
    ]


def quality_logit(col: Column, weights: tuple[float, ...] = QUALITY_WEIGHTS) -> Column:
    """Linear score over the deterministic text features, as a FIXED
    left-associated multiply-add chain (float addition is not
    associative; the oracle mirrors the exact parenthesization).
    Thresholding on the logit is equivalent to thresholding on the
    sigmoid probability (monotone), and avoids cross-engine ``exp``
    (IEEE does not require transcendentals correctly rounded)."""
    b = weights[0]
    feats = quality_features(col)
    out = F.lit(b)
    for w, f in zip(weights[1:], feats):
        out = out + F.lit(w) * f
    return out


def classifier_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: tuple[float, ...] = QUALITY_WEIGHTS,
) -> DataFrame:
    """Score every document and attach the keep decision (logit > 0).
    Pure narrow map — composes with predicate pushdown when the caller
    filters on ``keep`` (the whole chain inlines into the scan stage)."""
    logit = quality_logit(F.col(text_col), weights)
    return df.select(
        F.col(id_col),
        logit.alias("quality_logit"),
        (logit > 0).alias("keep"),
    )


def train_quality_weights(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    iters: int = 60,
    lr: float = 1.0,
    l2: float = 0.0,
    init: tuple[float, ...] = (0.0, 0.0, 0.0, 0.0, 0.0),
) -> tuple[float, ...]:
    """Train the quality classifier's weights by batch-gradient
    logistic regression over :func:`quality_features` — turning the
    shipped stand-in weights into a model FITTED on labeled (or
    weak-labeled) documents, with zero new serving machinery: the
    returned tuple plugs straight into :func:`classifier_quality`,
    whose scoring expression shares the exact feature definitions.

    ``label_col`` is a boolean/0-1 column (1 = keep-quality). Each
    iteration is ONE aggregation over the cached 5-column feature frame
    (the gradient is five sums — map-side combined, 5 doubles to the
    driver), then a driver-side weight update: the classic
    all-reduce-per-step distributed GD, fine for a 5-parameter model at
    any corpus size. Deterministic: fixed init, fixed iteration count,
    no RNG, no data-order dependence (sums are commutative to the
    ~1e-12 float-reassociation level, far under any decision boundary).

    Training is an OFFLINE stage (like pq_fit / bpe_train); the gate
    contract stays the scoring plan."""
    import math

    n_feats = 4
    feats = quality_features(F.col(text_col))
    y = F.col(label_col).cast("double")
    base = df.select(
        y.alias("_y"), *[feat.alias(f"_x{i}") for i, feat in enumerate(feats)]
    ).cache()
    n = base.count()
    if n == 0:
        raise ValueError("cannot train on an empty frame")

    w = list(init)
    for _ in range(iters):
        # z = w0 + sum(wi * xi); p = sigmoid(z); grads = X^T (p - y) / n
        z = F.lit(w[0])
        for i in range(n_feats):
            z = z + F.lit(w[i + 1]) * F.col(f"_x{i}")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - F.col("_y")
        row = base.agg(
            F.sum(err).alias("g0"),
            *[F.sum(err * F.col(f"_x{i}")).alias(f"g{i + 1}") for i in range(n_feats)],
        ).first()
        grads = [row[f"g{i}"] / n for i in range(n_feats + 1)]
        for i in range(n_feats + 1):
            reg = l2 * w[i] if i > 0 else 0.0  # never regularize the bias
            w[i] -= lr * (grads[i] + reg)
        if any(math.isnan(x) or math.isinf(x) for x in w):
            raise ArithmeticError("diverged — lower lr")
    base.unpersist()
    return tuple(w)


# ---------------------------------------------------------------------------
# DSIR-style importance weights
# ---------------------------------------------------------------------------

def doc_features(col: Column) -> Column:
    """Hashed-n-gram feature bag of a document: unigrams + bigrams of the
    normalized token stream, occurrences kept (DSIR weights by feature
    *count*, not presence). Returns array<string>.

    Bigrams come from the shared ``dedup._ngram_fold`` (a zip_with fold
    over shifted slices, NOT ``transform(sequence(...), i -> slice)``:
    higher-order functions evaluate interpreted, and the per-element
    tree was the measured bottleneck of the whole DSIR pass at the 100x
    corpus — 5.8x slower for byte-identical output; PLANS.md round-7
    scaling table)."""
    from rearview_spark.operators.dedup import _ngram_fold

    toks = tokens(col)
    bigrams = F.when(F.size(toks) >= 2, _ngram_fold(toks, 2)).otherwise(
        F.array().cast("array<string>")
    )
    return F.concat(toks, bigrams)


def dsir_importance(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Per-document importance weight for target-distribution matching
    (DSIR, arXiv:2302.03169 — rational-ratio variant, see below).

    ``target`` is a boolean Column selecting the in-domain slice of
    ``df`` itself (e.g. ``F.col("lang") == "en"``); the weight of hash
    bucket b is the add-one-smoothed likelihood ratio

        w_b = ((t_b + 1) * (R + B)) / ((r_b + 1) * (T + B))

    with t/r the target/raw bucket counts and T/R their totals. A
    document's importance is the MEAN of its features' bucket weights —
    documents whose feature mix looks like the target score > 1.
    Downstream, sample with probability proportional to the weight (the
    deterministic md5 threshold of curation.stratified_sample composes:
    ``keep ⇔ md5_60(id) mod M < importance * rate * M``).

    DSIR proper averages *log* ratios; the per-bucket likelihood-ratio
    mean used here ranks identically for single-bucket differences and
    keeps every operation a correctly-rounded IEEE +,*,/ on
    integer-derived doubles — the property the oracle gate hashes
    (module docstring). Returns (id, n_features, importance)."""
    from rearview_spark.operators._util import ensure_parallelism

    # single-file small-SF parquet arrives as ONE partition, serializing
    # the explode+md5 work on one thread (no-op at real scale)
    feats = ensure_parallelism(df, id_col).select(
        F.col(id_col),
        target.alias("_is_target"),
        F.explode(doc_features(F.col(text_col))).alias("f"),
    ).withColumn("bkt", F.pmod(_hash60(F.col("f")), F.lit(n_buckets)))

    # Reduce to per-(doc, bucket) counts FIRST: the explode+md5 runs
    # once, the shuffle carries <= |docs| * B rows (map-side combined)
    # instead of every token occurrence, and both downstream branches —
    # corpus bucket distributions and per-doc scoring — re-aggregate
    # this same tiny frame (one subtree, exchange-reusable).
    per_db = feats.groupBy(id_col, "bkt").agg(
        F.count("*").alias("c"),
        F.max(F.col("_is_target").cast("int")).alias("is_t"),
    )
    counts = per_db.groupBy("bkt").agg(
        F.sum("c").alias("r"),
        F.sum(F.col("c") * F.col("is_t")).alias("t"),
    )
    totals = counts.agg(
        F.sum("r").alias("r_total"), F.sum("t").alias("t_total")
    )
    w = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bkt",
            (
                (
                    (F.col("t") + F.lit(1)).cast("double")
                    * (F.col("r_total") + F.lit(n_buckets)).cast("double")
                )
                / (
                    (F.col("r") + F.lit(1)).cast("double")
                    * (F.col("t_total") + F.lit(n_buckets)).cast("double")
                )
            ).alias("wt"),
        )
    )
    return (
        per_db.join(F.broadcast(w), "bkt")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_features"),
            (
                F.sum(F.col("c") * F.col("wt"))
                / F.sum("c").cast("double")
            ).alias("importance"),
        )
    )


# ---------------------------------------------------------------------------
# Cluster-balanced sampling (embedding-diversity selection)
# ---------------------------------------------------------------------------

def cluster_balanced_sample(
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 3,
    per_cluster: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "cluster",
) -> DataFrame:
    """Embedding-diversity balancing: k-means the corpus in embedding
    space, then downsample each cluster to ``per_cluster`` rows
    (default: ceil(N / n_clusters) — the uniform-mix target) with the
    same deterministic md5-threshold rule as curation's samplers, so a
    handful of dominant semantic modes (SEO spam, one scraped forum)
    cannot crowd the training mix while sparse clusters are kept whole.
    The cluster-then-cap shape is the diversity-balancing complement of
    SemDeDup's cluster-then-prune (similarity.semantic_dedup): that
    removes redundancy WITHIN a tight cluster; this equalizes mass
    ACROSS clusters.

        threshold_c = min(10000, (per_cluster * 10000) div size_c)
        keep  ⇔  md5_60(id || ':' || salt) mod 10000 < threshold_c

    Integer arithmetic end to end (the token_budget_mix discipline), so
    reruns, retries, and the oracle gate agree exactly. Returns kept
    rows as ``(id, bucket, keep_threshold_bp)``.

    Scale shape: the k-means fit is the deterministic Lloyd's of
    similarity.kmeans_fit (the codebook a driver-side plan literal per
    iteration; corpus never leaves executors); assignment is a
    zero-shuffle narrow projection (assign_buckets); sizes are one
    |clusters|-row aggregate broadcast back; the keep rule is a
    scan-time filter. Beyond the fit, the whole pass adds NO
    corpus-scale shuffle."""
    import math

    from rearview_spark.operators.similarity import (
        _as_double,
        assign_buckets,
        kmeans_fit,
    )

    codebook = kmeans_fit(corpus, n_clusters, iters, id_col, vec_col)
    vecs = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    # materialized once: the threshold (broadcast) side and the keep-rule
    # side both read the assignment, and the per-cluster budget needs a
    # row count — pre-r16 the argmax projection ran three times (count,
    # sizes, keep join). Assignment never drops rows, so the budget
    # count comes from the raw corpus (no argmax); the (id, bucket)
    # checkpoint is ~16 bytes/row, the narrow-proxy discipline of
    # guide §8.
    assigned = (
        assign_buckets(vecs, codebook)
        .select(id_col, "bucket")
        .localCheckpoint(eager=True)
    )
    sizes = assigned.groupBy("bucket").agg(F.count("*").alias("_size"))
    if per_cluster is None:
        total = corpus.count()
        per_cluster = math.ceil(total / n_clusters)
    # floor at 1 bp (for a positive budget): a cluster bigger than
    # per_cluster*10000 rows would otherwise integer-floor to threshold
    # 0 and VANISH from the mix — the dominant mode the operator exists
    # to cap, not to delete. per_cluster=0 legitimately keeps nothing.
    floor_bp = 1 if per_cluster > 0 else 0
    thr = sizes.select(
        "bucket",
        F.least(
            F.lit(10000).cast("long"),
            F.greatest(
                F.lit(floor_bp).cast("long"),
                F.expr(f"(CAST({int(per_cluster)} AS BIGINT) * 10000) div _size"),
            ),
        )
        .cast("int")
        .alias("keep_threshold_bp"),
    )
    from rearview_spark.operators.dedup import md5_bucket

    return (
        assigned.join(F.broadcast(thr), "bucket")
        .filter(md5_bucket(F.col(id_col), salt) < F.col("keep_threshold_bp"))
        .select(id_col, "bucket", "keep_threshold_bp")
    )
