"""Similarity search over embedding columns (``array<float>``).

North-star extension (BASELINE.json). Two tiers:

- **Brute-force cosine top-k** — the exactness baseline. Queries are a
  small set broadcast against the corpus; the dot product runs JVM-side
  via ``zip_with`` + ``aggregate`` (no Python, no explode). One pass over
  the corpus per query batch; at 100 TB the corpus side stays partitioned
  and the query side broadcasts.
- **IVF (inverted-file) search** — the scale path: corpus is bucketed by a
  coarse quantizer (here: nearest of the per-`label` centroids, computed
  with one groupBy; at production scale, k-means iterations of the same
  shape). Probing ``nprobe`` nearest centroids prunes the scan to a few
  buckets — turning top-k from a full scan into a partition-pruned scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two double arrays (null-safe on zero norms)."""
    denom = _norm(a) * _norm(b)
    return F.when(denom == 0, None).otherwise(_dot(a, b) / denom)


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. Returns (query_id, vec_id, cosine_sim, rank).
    Excludes self-matches. Ties broken by vec_id for determinism."""
    from pyspark.sql import Window

    from rearview_spark.operators._util import ensure_parallelism

    qv = _as_double(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"), qv.alias("qv"), _norm(qv).alias("qn")
    )
    cv = _as_double(F.col(vec_col))
    # single-partition small-SF parquet would score the whole corpus on
    # one thread (no-op at real scale — see _util.ensure_parallelism)
    c = ensure_parallelism(corpus, id_col).select(
        F.col(id_col), cv.alias("cv"), _norm(cv).alias("cn")
    )
    # norms precomputed per row (not per pair): one interpreted fold per
    # scored pair instead of three; identical doubles (same fold order).
    denom = F.col("qn") * F.col("cn")
    sim = F.when(denom == 0, None).otherwise(_dot(F.col("qv"), F.col("cv")) / denom)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, F.round(sim + F.lit(5e-10), 6).alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    radius: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Radius (range) query — the other half of the vector-search API
    surface next to top-k: ALL corpus vectors with cosine >= ``radius``
    per query, unbounded count. Same plan shape as brute_force_topk
    (queries broadcast, JVM zip_with cosine, corpus stays partitioned)
    minus the ranking window: the predicate filters at scan+score time,
    so the result is produced with zero shuffles beyond the scan. The
    cosine is 6dp-nudge-rounded BEFORE the threshold compare, so the
    boundary decision is bit-identical cross-engine (the brute-force
    determinism contract). At scale, compose with the IVF router exactly
    like topk: probe buckets, then range-filter inside them.

    Returns (query_id, id_col, cosine_sim), self-matches excluded."""
    from rearview_spark.operators._util import ensure_parallelism

    qv = _as_double(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"), qv.alias("qv"), _norm(qv).alias("qn")
    )
    cv = _as_double(F.col(vec_col))
    c = ensure_parallelism(corpus, id_col).select(
        F.col(id_col), cv.alias("cv"), _norm(cv).alias("cn")
    )
    denom = F.col("qn") * F.col("cn")
    sim = F.when(denom == 0, None).otherwise(_dot(F.col("qv"), F.col("cv")) / denom)
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, F.round(sim + F.lit(5e-10), 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= radius)
    )


def label_centroids(corpus: DataFrame, vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """Element-wise mean vector per label — the coarse quantizer codebook.
    posexplode + groupBy(label, pos) keeps the shuffle narrow (one row per
    (label, dimension)), then re-assembles with array_agg ordered by pos."""
    exploded = corpus.select(
        label_col, F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x")
    )
    means = exploded.groupBy(label_col, "pos").agg(F.avg("x").alias("m"))
    return (
        means.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(label_col, F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` nearest label-centroids per
    query, then exact cosine within those buckets only. The corpus scan is
    pruned to nprobe/n_labels of the data — the 100 TB strategy (store the
    corpus partitioned by bucket id → partition pruning does the rest)."""
    from pyspark.sql import Window

    cents = label_centroids(corpus, vec_col, label_col)
    qv = _as_double(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"), qv.alias("qv"), _norm(qv).alias("qn")
    )
    # nearest nprobe centroids per query (tiny cross join: |labels| x |queries|)
    qc = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "qn", label_col, cosine(F.col("qv"), F.col("centroid")).alias("csim"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col(label_col))
    probes = qc.withColumn("r", F.row_number().over(wq)).filter(F.col("r") <= nprobe).select(
        "query_id", "qv", "qn", label_col
    )
    from rearview_spark.operators._util import ensure_parallelism

    cv = _as_double(F.col(vec_col))
    c = ensure_parallelism(corpus, id_col).select(
        F.col(id_col), F.col(label_col), cv.alias("cv"), _norm(cv).alias("cn")
    )
    denom = F.col("qn") * F.col("cn")
    sim = F.when(denom == 0, None).otherwise(_dot(F.col("qv"), F.col("cv")) / denom)
    scored = (
        c.join(F.broadcast(probes), label_col)
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, F.round(sim + F.lit(5e-10), 6).alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (random-hyperplane LSH)
# ---------------------------------------------------------------------------

def hyperplane_weights(planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane matrix: component (p, d) is
    md5("p:d") mapped into [-1, 1]. Public md5-arithmetic scheme (same
    family as dedup._hash60) so any engine — including the DuckDB oracle —
    reproduces the planes bit-for-bit from the formula alone."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:7], 16) % 2001 - 1000)
            / 1000.0
            for d in range(dim)
        ]
        for p in range(planes)
    ]


def _sign_band_structs(vec_col: str, planes: int, bands: int, dim: int) -> list:
    """The sign-LSH banding projection as a list of band-struct Columns
    ``(band int, bh string)`` — shared by the batch pair-finder and the
    incremental store path so both produce bit-identical bucket keys.

    Each plane's sign bit is built as ONE SQL string parsed JVM-side:
    the Column-API form (even via F.lit(list), which expands per
    element) issues planes*dim Py4J round-trips — >1s of driver wall
    per plan build at 16x64. repr() doubles round-trip exactly through
    the SQL parser, so the constants are bit-identical to the Python
    matrix."""
    W = hyperplane_weights(planes, dim)
    vexpr = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    bits = []
    for p in range(planes):
        arr = "array(" + ", ".join(f"CAST({w!r} AS DOUBLE)" for w in W[p]) + ")"
        bits.append(
            F.expr(
                f"CAST(CAST(aggregate(zip_with({vexpr}, {arr}, (x, y) -> x * y),"
                " CAST(0.0 AS DOUBLE), (a, b) -> a + b) > 0 AS INT) AS STRING)"
            )
        )
    per_band = planes // bands
    return [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("", *bits[b * per_band : (b + 1) * per_band]).alias("bh"),
        )
        for b in range(bands)
    ]


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.9,
    planes: int = 16,
    bands: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate vector pairs via sign-random-projection LSH: each
    vector's sign bits against ``planes`` fixed hyperplanes, banded into
    ``bands`` bucket keys; only same-bucket pairs are candidates (buckets
    past ``max_bucket_size`` dropped whole — a hot band, e.g. a fleet of
    zero vectors, can't go quadratic), then exact cosine verifies
    ``>= threshold``.

    Scale shape (the 100 TB story, mirroring MinHash-LSH): signature is
    one JVM projection (zip_with dot per plane, no Python); the candidate
    join shuffles on (band, band_bits) so work is proportional to
    colliding pairs, not n**2; exact cosine runs only on candidates.
    P(bit agrees) = 1 - angle/pi, so near-identical vectors collide in
    some band with probability ~1 while the bulk of the corpus never
    meets. Band width controls selectivity: 8-bit bands = 256 buckets
    per band, keeping candidate volume ~collisions, not corpus**2 (4-bit
    bands at corpus scale put hundreds of vectors per bucket and the
    verify stage degenerates toward all-pairs). The result is
    materialized and the signature and vector frames released (see
    dedup.minhash_near_duplicates)."""
    from rearview_spark.operators._util import (
        ensure_parallelism,
        observed_checkpoint,
        release_checkpoint,
    )

    # small-SF parquet arrives as ONE partition; the signature projection
    # and the per-vector norm scan would run single-threaded (no-op at
    # real scale — see _util.ensure_parallelism)
    corpus = ensure_parallelism(corpus, id_col)

    band_structs = _sign_band_structs(vec_col, planes, bands, dim)
    # One signature pass, filled once: the banded self-join's two aliases
    # scan it in one plan (same pattern as dedup.minhash_near_duplicates).
    sigs, _ = observed_checkpoint(
        corpus.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("bb"))
        .select(id_col, "bb.band", "bb.bh")
    )
    from rearview_spark.operators.dedup import _cap_buckets

    capped = _cap_buckets(sigs, ["band", "bh"], max_bucket_size)

    a, b = capped.alias("a"), capped.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # Norms are per-vector, not per-pair: compute once into the
    # materialized frame so verification does ONE interpreted
    # higher-order fold (the dot product) per candidate instead of
    # three. Same fold order as cosine(), so the doubles — and the
    # 6-decimal rounded output — are bit-identical.
    dv = _as_double(F.col(vec_col))
    vecs, _ = observed_checkpoint(
        corpus.select(F.col(id_col), dv.alias("_v"), _norm(dv).alias("_n"))
    )
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("_v").alias("va"), F.col("_n").alias("na"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb"))
    denom = F.col("na") * F.col("nb")
    sim = F.when(denom == 0, None).otherwise(_dot(F.col("va"), F.col("vb")) / denom)
    verified = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(sim + F.lit(5e-10), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    verified, _ = observed_checkpoint(verified)
    release_checkpoint(sigs)
    release_checkpoint(vecs)
    return verified


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.99,
    planes: int = 16,
    bands: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    dim: int = 64,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag corpus vectors
    whose cosine to ANY benchmark vector reaches ``threshold`` — the
    semantic complement of the n-gram overlap check
    (curation.benchmark_contamination), catching paraphrased/translated
    eval leakage that shares no surface n-grams (the published
    embedding-decontamination recipe from the phi / Dolma pipeline
    papers).

    Asymmetric sign-LSH join — NOT the self-join of
    :func:`embedding_near_duplicates`: both sides project through the
    same md5-derived hyperplanes (:func:`_sign_band_structs`, so the
    DuckDB oracle replays the banding bit-for-bit), but candidates come
    from an equi-join of corpus band keys against BENCHMARK band keys.
    The benchmark is eval-set-sized (thousands of rows at 100 TB corpus
    scale), so its banded signature table is broadcast — the corpus is
    scanned once for its own signatures and never shuffles; candidate
    volume is proportional to collisions with the tiny benchmark side,
    and exact-cosine verification runs only on those. Per-doc verdicts
    are then one map-side-combined hash aggregate over verified pairs.

    ``bench_id_col`` names the id column IN the benchmark frame (its
    ``vec_col`` must match the corpus's); ``None`` (default) means the
    benchmark uses ``id_col`` too. Before r13 the parameter only
    renamed an internal alias while ids were still read from ``id_col``
    — an AnalysisException trap for benchmark tables keyed differently
    (ADVICE r12).

    Returns one row per CONTAMINATED corpus vector:
    ``(id_col, best_bench_id, max_cosine, n_matches)`` —
    ``best_bench_id`` is the smallest benchmark id among matches tying
    the (6dp-rounded) max cosine, so output is deterministic under any
    partitioning. Bucket caps apply to the corpus side only (a hot
    band — a fleet of near-zero vectors — can't flood the verify
    stage); the benchmark side is assumed curated and small.
    """
    from rearview_spark.operators._util import (
        ensure_parallelism,
        observed_checkpoint,
        release_checkpoint,
    )
    from rearview_spark.operators.dedup import _cap_buckets

    corpus = ensure_parallelism(corpus, id_col)
    band_structs = _sign_band_structs(vec_col, planes, bands, dim)

    dv = _as_double(F.col(vec_col))
    # One corpus pass computes band keys AND the verify payload (vector +
    # norm), filled once: the candidate join and the verify join both
    # scan it in one plan (see dedup.minhash_near_duplicates).
    cvecs, _ = observed_checkpoint(
        corpus.select(
            F.col(id_col),
            F.array(*band_structs).alias("_bands"),
            dv.alias("_cv"),
            _norm(dv).alias("_cn"),
        )
    )
    csigs = _cap_buckets(
        cvecs.select(id_col, F.explode("_bands").alias("bb")).select(
            id_col, "bb.band", "bb.bh"
        ),
        ["band", "bh"],
        max_bucket_size,
    )

    bid = bench_id_col or id_col
    bsigs = benchmark.select(
        F.col(bid).alias("_bid"),
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select("_bid", "bb.band", "bb.bh")
    bdv = _as_double(F.col(vec_col))
    bvecs = benchmark.select(
        F.col(bid).alias("_bid"), bdv.alias("_bv"), _norm(bdv).alias("_bn")
    )

    cands = (
        csigs.join(F.broadcast(bsigs), ["band", "bh"])
        .select(id_col, "_bid")
        .distinct()
    )
    denom = F.col("_cn") * F.col("_bn")
    sim = F.when(denom == 0, None).otherwise(_dot(F.col("_cv"), F.col("_bv")) / denom)
    pairs = (
        cands.join(cvecs.select(id_col, "_cv", "_cn"), id_col)
        .join(F.broadcast(bvecs), "_bid")
        .select(
            id_col,
            "_bid",
            F.round(sim + F.lit(5e-10), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    # Deterministic per-doc verdict in ONE aggregate: max_by struct —
    # highest cosine wins, ties broken toward the SMALLEST benchmark id
    # (negate the id inside the struct so max == min id).
    agg = pairs.groupBy(id_col).agg(
        F.max(
            F.struct(F.col("cosine_sim"), (-F.col("_bid")).alias("_nb"))
        ).alias("_best"),
        F.count(F.lit(1)).alias("n_matches"),
    )
    out = agg.select(
        id_col,
        (-F.col("_best._nb")).alias("best_bench_id"),
        F.col("_best.cosine_sim").alias("max_cosine"),
        "n_matches",
    )
    out, _ = observed_checkpoint(out)
    release_checkpoint(cvecs)  # scope the corpus-sized frame
    return out


# ---------------------------------------------------------------------------
# Incremental embedding dedup against a persistent vector store
# ---------------------------------------------------------------------------

def embedding_store_rows(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    bands: int = 2,
    dim: int = 64,
) -> DataFrame:
    """The vector-store row for each embedding: ``(id, bands, emb,
    nrm)`` — the sign-LSH band keys (computed ONCE, at append time, so
    future micro-batches never re-project history through the
    hyperplanes), the double-cast vector, and its norm. The embedding
    IS the payload here (~8*dim bytes/row), so unlike the minhash store
    this store is corpus-embedding-sized — but it replaces re-reading
    (and re-embedding) the raw documents, which is the expensive side
    at 100 TB. Mirrors dedup.minhash_store_rows for the embedding
    space."""
    from rearview_spark.operators._util import ensure_parallelism

    df = ensure_parallelism(df, id_col)
    dv = _as_double(F.col(vec_col))
    return df.select(
        F.col(id_col),
        F.array(*_sign_band_structs(vec_col, planes, bands, dim)).alias("bands"),
        dv.alias("emb"),
        _norm(dv).alias("nrm"),
    )


def incremental_embedding_dedup(
    new_vecs: DataFrame,
    store: DataFrame | None,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    bands: int = 2,
    dim: int = 64,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Embedding-cosine near-dup of a NEW batch against an existing
    vector store — the embedding-space analog of
    dedup.incremental_minhash_dedup (the batch
    :func:`embedding_near_duplicates` re-pairs the whole corpus every
    run; here history participates through its stored band keys and
    vector only).

    ``store`` is the accumulated :func:`embedding_store_rows` frame
    (``None`` for the first batch). Returns one row per NEW vector:
    ``(id, bands, emb, nrm, dup_of, cosine_sim)`` — ``dup_of`` is the
    store vector or smaller-id batch-mate it duplicates (best match by
    exact verified cosine, match id ascending as tie-break; NULL =
    unique). Append ``.filter(dup_of IS NULL).select(id, bands, emb,
    nrm)`` to the store; packaged for Structured Streaming by
    :func:`incremental_embedding_foreach_batch`.

    Scale shape: the new batch is sign-projected once; the store side
    arrives with its band keys ALREADY materialized, so the per-batch
    cost over history is one (band, bh) equi-join — persist the store
    bucketed by ``bh`` and each micro-batch probes only the buckets its
    own signatures hit (stream-static, the S11 machinery). Bucket caps
    apply to the UNION of store+new occupancy, exactly like the batch
    operator, so a hot bucket (a fleet of near-zero vectors) can't go
    quadratic as the store grows. A new vector's decision depends only
    on the store and smaller-id batch-mates — NOT on whether the mate
    itself was kept (same no-transitivity contract as the minhash
    form; retries stay deterministic). The LSH knobs (planes, bands,
    dim) MUST match across every batch sharing a store — band keys are
    positional in the plane matrix."""
    from pyspark.sql import Window

    from rearview_spark.operators.dedup import _cap_buckets

    new_rows = embedding_store_rows(
        new_vecs, id_col, vec_col, planes, bands, dim
    ).cache()
    banded_new = (
        new_rows.select(F.col(id_col), F.explode("bands").alias("bb"))
        .select(id_col, "bb.band", "bb.bh")
        .withColumn("_new", F.lit(True))
    )
    if store is not None:
        # Retry hygiene (same reasoning as incremental_minhash_dedup):
        # exclude store rows whose id is in the batch, so a retried
        # half-committed batch sees exactly the first run's bucket
        # occupancy — self-guarding candidates alone leaves the
        # duplicate rows inflating _cap_buckets counts, which can drop
        # a bucket whole and flip every decision made through it.
        store = store.join(
            F.broadcast(new_rows.select(id_col)), id_col, "left_anti"
        )
        store = store.select(id_col, "bands", "emb", "nrm").cache()
        banded_store = (
            store.select(F.col(id_col), F.explode("bands").alias("bb"))
            .select(id_col, "bb.band", "bb.bh")
            .withColumn("_new", F.lit(False))
        )
        banded = banded_new.unionByName(banded_store)
    else:
        banded = banded_new
    banded = _cap_buckets(banded, ["band", "bh"], max_bucket_size)

    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & F.col("a._new")
            # self-guard: a foreachBatch RETRY re-processes a batch whose
            # unique rows were already appended to the store; without
            # this every such vector decides dup_of=self and is dropped
            & (F.col(f"b.{id_col}") != F.col(f"a.{id_col}"))
            & (
                (~F.col("b._new"))
                | (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("_nid"),
            F.col(f"b.{id_col}").alias("_mid"),
        )
        .distinct()
    )
    pool = new_rows.select(id_col, "emb", "nrm")
    if store is not None:
        pool = pool.unionByName(store.select(id_col, "emb", "nrm"))
    na = new_rows.select(
        F.col(id_col).alias("_nid"), F.col("emb").alias("_va"), F.col("nrm").alias("_na")
    )
    nb = pool.select(
        F.col(id_col).alias("_mid"), F.col("emb").alias("_vb"), F.col("nrm").alias("_nb")
    )
    denom = F.col("_na") * F.col("_nb")
    sim = F.when(denom == 0, None).otherwise(_dot(F.col("_va"), F.col("_vb")) / denom)
    scored = (
        cands.join(na, "_nid")
        .join(nb, "_mid")
        .select(
            "_nid", "_mid",
            F.round(sim + F.lit(5e-10), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    best = (
        scored.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_nid").orderBy(
                    F.col("cosine_sim").desc(), F.col("_mid").asc()
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .select(
            F.col("_nid").alias(id_col),
            F.col("_mid").alias("dup_of"),
            "cosine_sim",
        )
    )
    out = new_rows.join(best, id_col, "left").localCheckpoint(eager=True)
    new_rows.unpersist()
    if store is not None:
        store.unpersist()
    return out


def incremental_embedding_foreach_batch(
    spark,
    store_dir: str,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    bands: int = 2,
    dim: int = 64,
    decisions_dir: str | None = None,
    max_bucket_size: int | None = 1000,
):
    """Package :func:`incremental_embedding_dedup` as a Structured
    Streaming ``foreachBatch`` callback: each micro-batch of vectors
    dedups against the parquet vector store at ``store_dir``, the
    batch's UNIQUE vectors' store rows are appended, and (optionally)
    every decision is appended to ``decisions_dir`` for audit. The
    store read is the static side of a stream-static join re-read per
    micro-batch, so a flat-dir compaction of the store
    (sources/compaction.optimize_metrics_dir — run it between batches,
    sort_cols=(id_col,)) is picked up on the next batch. Retry safety
    matches the minhash form: self-matches are excluded in the
    operator and the store read drops duplicate ids, so a re-run of a
    half-committed batch decides every vector exactly as the first run
    did."""
    from pyspark.errors import AnalysisException

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        try:
            store = spark.read.parquet(store_dir).dropDuplicates([id_col])
        except AnalysisException:  # missing dir / no parquet yet
            store = None
        decided = incremental_embedding_dedup(
            batch_df,
            store,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            planes=planes,
            bands=bands,
            dim=dim,
            max_bucket_size=max_bucket_size,
        )
        (
            decided.filter(F.col("dup_of").isNull())
            .select(id_col, "bands", "emb", "nrm")
            .write.mode("append")
            .parquet(store_dir)
        )
        if decisions_dir is not None:
            (
                decided.select(id_col, "dup_of", "cosine_sim")
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(decisions_dir)
            )

    return _process


# ---------------------------------------------------------------------------
# K-means coarse quantizer (Lloyd iterations as DataFrame ops)
# ---------------------------------------------------------------------------

def kmeans_fit(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means on DataFrames -> codebook ``(bucket, centroid)``.

    Deterministic init: the k vectors with the smallest ids (no RNG — the
    fit is reproducible run to run, which resume/backfill at 100 TB
    requires). Each iteration is (a) assign: the zero-shuffle literal
    argmax projection (:func:`assign_buckets`'s expression, built from
    the DRIVER-side centroid list), (b) update: posexplode to
    (bucket, dim) and average, collected to the driver — the codebook is
    a k-row config-scale artifact (the PQ-codebook class), so carrying
    it as driver state costs one k*dim-row collect per iteration and
    REPLACES the pre-r16 per-iteration collect + join + eager
    localCheckpoint pair: one job per Lloyd iteration instead of two,
    and zero codebook-lineage checkpoints (guide §1.2 step 1 — fewer
    passes — plus §5: the driver holds k*dim doubles, not data). Empty
    clusters keep their previous centroid (standard Lloyd
    degenerate-case handling, now a driver-side dict fallback —
    identical doubles: collected avg values round-trip exactly through
    repr literals, the assign_buckets discipline)."""
    from rearview_spark.operators._util import ensure_parallelism

    # cached: every Lloyd iteration reads vecs once (assign+update fused
    # into the means job) and the seed scan once — without the cache that
    # is iters+1 parquet scans + array casts; with it, one parallel scan.
    vecs = ensure_parallelism(corpus, id_col).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("cv")
    ).cache()
    seed_rows = vecs.orderBy(id_col).limit(k).collect()
    cents: list[list[float]] = [
        list(r["cv"]) for r in sorted(seed_rows, key=lambda r: r[id_col])
    ]
    for _ in range(iters):
        assigned = _assign_with_cents(vecs, cents)
        means_rows = (
            assigned.select("bucket", F.posexplode("cv").alias("pos", "x"))
            .groupBy("bucket", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_bucket: dict[int, dict[int, float]] = {}
        for r in means_rows:
            by_bucket.setdefault(r["bucket"], {})[r["pos"]] = r["m"]
        cents = [
            [by_bucket[b][p] for p in range(len(cents[b]))]
            if b in by_bucket
            else cents[b]  # empty cluster: keep the previous centroid
            for b in range(len(cents))
        ]
    vecs.unpersist()
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(b, cents[b]) for b in range(len(cents))],
        "bucket int, centroid array<double>",
    )


def assign_buckets(
    vecs: DataFrame, codebook: DataFrame, vec_expr: str = "cv"
) -> DataFrame:
    """Nearest-centroid assignment (cosine) with NO shuffle: the codebook
    is config-scale (tens of centroids), so it collects to the driver and
    each bucket's cosine becomes a column expression over a SQL-literal
    centroid array (``repr`` round-trips doubles exactly; one parsed SQL
    string per centroid sidesteps the per-element ``F.lit`` Py4J
    explosion). The argmax is ``array_max`` over (sim, -bucket, bucket)
    structs — a narrow projection. Round 1 realized the argmin as a
    crossJoin + groupBy over every corpus column, which hashed the 64-dim
    vector into the aggregate key and shuffled the whole corpus once per
    call (VERDICT r01 #6). Ties resolve to the smallest bucket — the
    oracle's ``ORDER BY sim DESC, bucket`` — and zero-norm vectors
    (null cosine) coalesce below the cosine floor, landing in the
    smallest bucket deterministically.

    Per-row cost: ONE norm fold + k dot folds. Centroid norms are
    computed driver-side in Python (sequential ``sum`` — the identical
    IEEE add order as the in-plan fold, so the doubles are bit-equal)
    and the vector's own norm is a shared column instead of being
    re-folded once per centroid (k+1 interpreted folds per row, down
    from 3k — HOFs never enter codegen, so fold count IS the cost; the
    r16 unrolled-arithmetic experiment measured the codegen'd
    term-chain form ~3x SLOWER than the fold, so the HOF stays).
    The whole argmax is one parsed SQL expression (one Py4J round
    trip)."""
    cents = sorted(codebook.collect(), key=lambda r: r["bucket"])
    return _assign_with_cents(
        vecs, [list(r["centroid"]) for r in cents],
        [r["bucket"] for r in cents], vec_expr,
    )


def _assign_with_cents(
    vecs: DataFrame,
    cents: list,
    buckets: list | None = None,
    vec_expr: str = "cv",
) -> DataFrame:
    """:func:`assign_buckets` body over a DRIVER-side centroid list —
    shared with :func:`kmeans_fit`'s loop so the fit never round-trips
    the codebook through a DataFrame between iterations. ``buckets``
    defaults to 0..len(cents)-1."""
    import math

    if buckets is None:
        buckets = list(range(len(cents)))
    structs = []
    for b, centroid in zip(buckets, cents):
        arr = "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in centroid) + ")"
        cn = math.sqrt(sum(x * x for x in centroid))
        dot = (
            f"aggregate(zip_with({vec_expr}, {arr}, (x, y) -> x * y),"
            " CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        )
        denom = f"(__ncv * CAST({cn!r} AS DOUBLE))"
        sim = f"(CASE WHEN {denom} = 0 THEN CAST(-2.0 AS DOUBLE) ELSE {dot} / {denom} END)"
        structs.append(
            f"named_struct('s', {sim}, 'nb', {-b}, 'b', {b})"
        )
    argmax = f"array_max(array({', '.join(structs)})).b"
    ncv = (
        f"sqrt(aggregate(transform({vec_expr}, x -> x * x),"
        " CAST(0.0 AS DOUBLE), (a, b) -> a + b))"
    )
    return (
        vecs.withColumn("__ncv", F.expr(ncv))
        .withColumn("bucket", F.expr(argmax))
        .drop("__ncv")
    )


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_buckets: int = 16,
    nprobe: int = 3,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k with a true k-means coarse quantizer: fit the codebook,
    assign the corpus once (at scale: persisted, partitioned by bucket ->
    probing = partition pruning), then per query probe the ``nprobe``
    nearest centroids and run exact cosine inside those buckets only."""
    from pyspark.sql import Window

    from rearview_spark.operators._util import ensure_parallelism

    codebook = kmeans_fit(corpus, n_buckets, iters, id_col, vec_col)
    vecs = ensure_parallelism(corpus, id_col).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("cv")
    ).cache()
    bucketed = assign_buckets(vecs, codebook).withColumn("cn", _norm(F.col("cv")))

    qv = _as_double(F.col(vec_col))
    q = queries.select(F.col(id_col).alias("query_id"), qv.alias("qv"), _norm(qv).alias("qn"))
    qc = q.crossJoin(F.broadcast(codebook)).select(
        "query_id", "qv", "qn", "bucket", cosine(F.col("qv"), F.col("centroid")).alias("csim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("bucket"))
    probes = (
        qc.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qv", "qn", "bucket")
    )
    denom = F.col("qn") * F.col("cn")
    sim = F.when(denom == 0, None).otherwise(_dot(F.col("qv"), F.col("cv")) / denom)
    scored = (
        bucketed.join(F.broadcast(probes), "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", id_col,
            F.round(sim + F.lit(5e-10), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    out = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    # serve-and-release (same cache-scoping as the dedup family): the
    # top-k result is query-scale — materialize it and drop the
    # corpus-scale vector cache before handing the frame back.
    out = out.localCheckpoint(eager=True)
    vecs.unpersist()
    return out


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN
# ---------------------------------------------------------------------------

def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays — sequential fold,
    (x-y)*(x-y) so Spark and the SQL oracle share the exact op."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subvectors(df: DataFrame, m: int, sub: int, id_col: str, vec_col: str) -> DataFrame:
    """(id, s, sv): each vector split into m contiguous subvectors of
    ``sub`` dims — one narrow projection + explode, no shuffle."""
    dv = _as_double(F.col(vec_col))
    pieces = F.array(*[
        F.struct(F.lit(s).alias("s"), F.slice(dv, s * sub + 1, sub).alias("sv"))
        for s in range(m)
    ])
    return df.select(F.col(id_col), F.explode(pieces).alias("p")).select(
        id_col, "p.s", "p.sv"
    )


def pq_fit(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Product-quantization codebooks (public Jegou et al. PQ scheme):
    split each vector into ``m`` subspaces and run L2 k-means per
    subspace -> ``(s, code, centroid)`` with ``m*k`` rows total.

    All subspaces train SIMULTANEOUSLY: the subvector frame carries the
    subspace id ``s``, so one round covers every subspace (O(n*m*k)
    joined rows, not m separate fits). Deterministic init (the k
    smallest ids' subvectors, coded 0..k-1 in id order) and
    smallest-code tie-breaks keep the fit reproducible — the property
    the recursive SQL oracle relies on.

    One Lloyd round (through ``_util.fixed_point``) is two aggregates:

    - assign: the subvectors join the broadcast codebook and keep the
      nearest ``(d, code)`` per ``(id, s)`` — the n*m*k-row SortAggregate;
    - update: ONE ``(s, code)`` aggregate over the assigned rows unioned
      with the previous codebook's rows. Each position is the members'
      ``avg``, or the previous centroid when the cluster got no members,
      so an empty cluster needs no join back to the old codebook.

    The update is parsed from one SQL string: built from py4j
    ``Column`` objects, several per position, it took about twice the
    driver time per round. The seed codes are numbered on the k seed
    ids (``ranked_topk``) before the join, so no window over the m*k
    seed rows needs an exchange, and the seed codebook is checkpointed
    as one partition."""
    from rearview_spark.operators._util import ensure_parallelism, fixed_point, ranked_topk

    sub = dim // m
    subs = _subvectors(ensure_parallelism(corpus, id_col), m, sub, id_col, vec_col).cache()
    seeds = ranked_topk(corpus.select(id_col), [id_col], k, "code")
    codebook = (
        subs.join(F.broadcast(seeds), id_col)
        .select("s", (F.col("code") - 1).alias("code"), F.col("sv").alias("centroid"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    update = F.expr(
        "IF(count_if(_member) = 0, max(IF(_member, NULL, sv)), array("
        + ", ".join(f"avg(IF(_member, sv[{i}], NULL))" for i in range(sub))
        + "))"
    ).alias("centroid")

    def step(codebook: DataFrame, _) -> DataFrame:
        d = _sq_l2(F.col("sv"), F.col("centroid"))
        assigned = (
            subs.join(F.broadcast(codebook), "s")
            .select(id_col, "s", "sv", F.struct(d.alias("d"), F.col("code").alias("c")).alias("dc"))
            .groupBy(id_col, "s")
            .agg(F.min("dc").alias("dc"), F.first("sv").alias("sv"))
            .select("s", F.col("dc.c").alias("code"), "sv", F.lit(True).alias("_member"))
        )
        prev = codebook.select("s", "code", F.col("centroid").alias("sv"), F.lit(False).alias("_member"))
        return assigned.unionByName(prev).groupBy("s", "code").agg(update)

    codebook = fixed_point(codebook, step, iters)
    # codebook is checkpointed; the subvector cache has no readers left
    subs.unpersist()
    return codebook


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Encode each vector as ``m`` one-byte codes: (id, s, code) — the
    nearest codebook centroid per subspace. This is the 100 TB payoff:
    a 64-dim float vector (256-512 B) becomes m bytes (~4 B), so a
    billion-vector index fits executor memory and the ANN scan reads
    codes, not vectors. Broadcast codebook, map-side argmin — the corpus
    never shuffles."""
    from rearview_spark.operators._util import ensure_parallelism, fixed_point

    sub = dim // m
    subs = _subvectors(ensure_parallelism(corpus, id_col), m, sub, id_col, vec_col)
    d = _sq_l2(F.col("sv"), F.col("centroid"))
    return (
        subs.join(F.broadcast(codebook), "s")
        .select(id_col, "s", F.struct(d.alias("d"), F.col("code").alias("c")).alias("dc"))
        .groupBy(id_col, "s")
        .agg(F.min("dc").alias("dc"))
        .select(id_col, "s", F.col("dc.c").alias("code"))
    )


def pq_scan_topk(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Serving-path ADC scan over a PREBUILT PQ index (codes + codebook).

    This is the cost a query pays at serving time: per query, compute the
    m*k table of (subspace, code) -> squared-L2 partial distances once,
    then every corpus vector's approximate distance is m table lookups
    summed — no vector arithmetic in the scan, and no fit/encode (the
    index is built once by :func:`pq_fit`/:func:`pq_encode` and persisted;
    bench.py times this scan separately from the build).

    Returns (query_id, vec_id, approx_dist, rank), ascending distance.

    Scale shape: the distance tables are |queries| * m * k rows —
    broadcast; the codes frame joins them on (s, code) and aggregates by
    (query, vec): the only corpus-sized shuffle carries (query, vec,
    partial) triples. At 100 TB, compose with the IVF router
    (:func:`ivf_topk`) so ADC scans only the probed buckets' codes —
    IVF prunes, PQ compresses; together they are the standard
    billion-scale recipe."""
    from pyspark.sql import Window

    sub = dim // m
    qsubs = _subvectors(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        m, sub, "query_id", vec_col,
    )
    dtable = qsubs.join(F.broadcast(codebook), "s").select(
        "query_id", "s", "code", _sq_l2(F.col("sv"), F.col("centroid")).alias("d")
    )
    scored = (
        codes.join(F.broadcast(dtable), ["s", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("d").alias("dist"))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", id_col,
            F.round(F.col("dist") + F.lit(5e-10), 6).alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx_dist").asc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= topk)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """One-shot PQ ANN: fit codebooks + encode corpus + ADC scan in a
    single plan (see :func:`pq_scan_topk` for the serving-only path and
    the scale notes)."""
    codebook = pq_fit(corpus, m, k_codes, iters, id_col, vec_col, dim)
    codes = pq_encode(corpus, codebook, m, id_col, vec_col, dim)
    return pq_scan_topk(codes, codebook, queries, topk, m, id_col, vec_col, dim)


def ivf_rpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    n_buckets: int = 8,
    nprobe: int = 2,
    router_iters: int = 2,
    m: int = 4,
    k_codes: int = 16,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF + RESIDUAL PQ (the classical IVFADC refinement, public Jegou
    et al. scheme): vectors are PQ-encoded as their residual from the
    assigned router centroid, not raw. Residuals concentrate near zero,
    so the same m*k code budget spends its quantization resolution on
    the within-bucket detail the router already localized — recall at
    equal bytes is >= raw-vector IVF+PQ (:func:`ivf_pq_topk`).

    Query side: for each probed bucket the query's OWN residual against
    that bucket's centroid feeds the ADC table, so distance tables are
    keyed (query, bucket, subspace, code) — one table per probe, still
    |queries| * nprobe * m * k rows, broadcast-scale.

    Scale shape: identical to ivf_pq_topk — bucket-pruned candidates,
    broadcast codebooks/tables, one corpus-sized shuffle of (query, vec,
    partial) rows for probed buckets only. The extra cost vs raw IVF+PQ
    is one broadcast join to materialize residuals at encode time."""
    from pyspark.sql import Window

    from rearview_spark.operators._util import ensure_parallelism

    router = kmeans_fit(corpus, n_buckets, router_iters, id_col, vec_col)
    vecs = ensure_parallelism(corpus, id_col).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("cv")
    ).cache()
    bucketed = assign_buckets(vecs, router)
    resid = bucketed.join(F.broadcast(router), "bucket").select(
        id_col, "bucket",
        F.zip_with("cv", "centroid", lambda x, y: x - y).alias("rv"),
    )
    rcb = pq_fit(resid, m, k_codes, pq_iters, id_col, "rv", dim)
    codes = pq_encode(resid, rcb, m, id_col, "rv", dim)

    qv = _as_double(F.col(vec_col))
    q = queries.select(F.col(id_col).alias("query_id"), qv.alias("qv"))
    qc = q.crossJoin(F.broadcast(router)).select(
        "query_id", "qv", "bucket", "centroid",
        cosine(F.col("qv"), F.col("centroid")).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("bucket"))
    probes = qc.withColumn("r", F.row_number().over(wq)).filter(F.col("r") <= nprobe)

    sub = dim // m
    qresid = probes.select(
        "query_id", "bucket",
        F.zip_with("qv", "centroid", lambda x, y: x - y).alias("rqv"),
    )
    pieces = F.array(*[
        F.struct(F.lit(s).alias("s"), F.slice(F.col("rqv"), s * sub + 1, sub).alias("sv"))
        for s in range(m)
    ])
    qsubs = qresid.select("query_id", "bucket", F.explode(pieces).alias("p")).select(
        "query_id", "bucket", "p.s", "p.sv"
    )
    dtable = qsubs.join(F.broadcast(rcb), "s").select(
        "query_id", "bucket", "s", "code",
        _sq_l2(F.col("sv"), F.col("centroid")).alias("d"),
    )
    cands = bucketed.select(id_col, "bucket").join(
        F.broadcast(probes.select("query_id", "bucket")), "bucket"
    )
    scored = (
        cands.join(codes, id_col)
        .join(F.broadcast(dtable), ["query_id", "bucket", "s", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("d").alias("dist"))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", id_col,
            F.round(F.col("dist") + F.lit(5e-10), 6).alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx_dist").asc(), F.col(id_col))
    out = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= topk)
    # serve-and-release (same cache-scoping as the dedup family): the
    # top-k result is query-scale — materialize it and drop the
    # corpus-scale vector cache before handing the frame back.
    out = out.localCheckpoint(eager=True)
    vecs.unpersist()
    return out


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    n_buckets: int = 8,
    nprobe: int = 2,
    router_iters: int = 2,
    m: int = 4,
    k_codes: int = 16,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF+PQ: the composed billion-scale ANN recipe. A k-means router
    assigns every vector to a coarse bucket (IVF — probing prunes the
    scan to nprobe/n_buckets of the corpus); within the probed buckets,
    scoring is asymmetric distance over PQ codes (the scan reads m bytes
    per vector, not the vector). This variant quantizes raw vectors
    (IVF-Flat+PQ); residual encoding is the classical refinement and
    slots into the same plan shape.

    Returns (query_id, vec_id, approx_dist, rank) — ascending ADC
    distance within the probed buckets.

    Scale shape: codebooks and per-query distance tables broadcast; the
    candidate set is bucket-pruned BEFORE touching codes, so the one
    corpus-sized shuffle carries (query, vec, partial) rows for probed
    buckets only. Persist codes partitioned by bucket and the probe
    join becomes partition pruning."""
    from pyspark.sql import Window

    from rearview_spark.operators._util import ensure_parallelism

    router = kmeans_fit(corpus, n_buckets, router_iters, id_col, vec_col)
    vecs = ensure_parallelism(corpus, id_col).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("cv")
    ).cache()
    bucketed = assign_buckets(vecs, router).select(id_col, "bucket")

    pq_cb = pq_fit(corpus, m, k_codes, pq_iters, id_col, vec_col, dim)
    codes = pq_encode(corpus, pq_cb, m, id_col, vec_col, dim)

    qv = _as_double(F.col(vec_col))
    q = queries.select(F.col(id_col).alias("query_id"), qv.alias("qv"), _norm(qv).alias("qn"))
    qc = q.crossJoin(F.broadcast(router)).select(
        "query_id", "bucket", cosine(F.col("qv"), F.col("centroid")).alias("csim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("bucket"))
    probes = (
        qc.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "bucket")
    )

    sub = dim // m
    qsubs = _subvectors(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        m, sub, "query_id", vec_col,
    )
    dtable = qsubs.join(F.broadcast(pq_cb), "s").select(
        "query_id", "s", "code", _sq_l2(F.col("sv"), F.col("centroid")).alias("d")
    )

    cands = bucketed.join(F.broadcast(probes), "bucket").select("query_id", id_col)
    scored = (
        cands.join(codes, id_col)
        .join(F.broadcast(dtable), ["query_id", "s", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("d").alias("dist"))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", id_col,
            F.round(F.col("dist") + F.lit(5e-10), 6).alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx_dist").asc(), F.col(id_col))
    out = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= topk)
    # serve-and-release (same cache-scoping as the dedup family): the
    # top-k result is query-scale — materialize it and drop the
    # corpus-scale vector cache before handing the frame back.
    out = out.localCheckpoint(eager=True)
    vecs.unpersist()
    return out


# ---------------------------------------------------------------------------
# Semantic deduplication (cluster-then-prune, SemDeDup-style)
# ---------------------------------------------------------------------------

def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.3,
    n_buckets: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = 10_000,
) -> DataFrame:
    """Semantic deduplication of an embedding corpus: k-means-cluster the
    embedding space, then prune near-duplicates WITHIN clusters only —
    the public SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540).
    Complements the exact/MinHash/SimHash ladder: those catch lexical
    twins; this catches paraphrases that share no shingles but sit on
    top of each other in embedding space.

    Keep rule (deterministic, oracle-checkable without connected
    components): a vector is PRUNED iff ANY same-cluster vector with a
    smaller id has rounded cosine >= ``threshold`` — including earlier
    vectors that were themselves pruned. Note this is NOT greedy
    keep-first (which compares only against vectors already KEPT): for a
    chain a~b, b~c, a!~c, greedy keeps c while this rule prunes it — it
    prunes a SUPERSET of greedy keep-first (ADVICE r05 #4). The upside
    is a single self-join + distinct instead of an inherently sequential
    scan per cluster. ``threshold`` is corpus-calibrated (cosines
    concentrate differently per embedding model); use
    :func:`calibrate_semantic_threshold` to pick it off the within-
    cluster pair-cosine quantiles of a sample.

    Scale shape: clustering is what bounds the quadratic term — the
    self-join is per-bucket (equi-join on bucket), so pair volume is
    sum_c |c|^2, not n^2, and n_buckets grows with the corpus to hold
    |c| roughly constant (SemDeDup's own regime: tens of thousands of
    clusters at web scale). A cluster past ``max_cluster_size`` (a
    degenerate fit — e.g. a fleet of identical vectors collapsing into
    one centroid) is excluded from pair generation WHOLE rather than
    allowed to go quadratic; its members come back kept=True
    (conservative: keep extra data, never blow up the join) — the same
    hot-bucket policy as the MinHash/SimHash caps (dedup._cap_buckets),
    enforced via a map-side-combined count + broadcast anti-join, never
    a window over the pairs. Assignment is the shuffle-free broadcast
    argmax (assign_buckets); the pairwise cosine is the JVM zip_with
    fold. Returns (id, bucket, kept) for every corpus row.
    """
    codebook = kmeans_fit(corpus, n_buckets, iters, id_col, vec_col)
    dv = _as_double(F.col(vec_col))
    vecs = corpus.select(F.col(id_col), dv.alias("cv"))
    assigned = (
        assign_buckets(vecs, codebook)
        .withColumn("cn", _norm(F.col("cv")))
        .select(F.col(id_col), F.col("bucket").cast("int").alias("bucket"), "cv", "cn")
    )
    pairable = assigned
    if max_cluster_size is not None:
        oversized = (
            assigned.groupBy("bucket")
            .count()
            .filter(F.col("count") > max_cluster_size)
            .select("bucket")
        )
        pairable = assigned.join(F.broadcast(oversized), "bucket", "left_anti")
    a = pairable.select(
        F.col(id_col).alias("id_a"), "bucket", F.col("cv").alias("va"), F.col("cn").alias("na")
    )
    b = pairable.select(
        F.col(id_col).alias("id_b"), "bucket", F.col("cv").alias("vb"), F.col("cn").alias("nb")
    )
    denom = F.col("na") * F.col("nb")
    sim = F.when(denom == 0, None).otherwise(_dot(F.col("va"), F.col("vb")) / denom)
    removed = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", F.round(sim + F.lit(5e-10), 6).alias("s"))
        .filter(F.col("s") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(removed.withColumn("_rm", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            "bucket",
            F.coalesce(~F.col("_rm"), F.lit(True)).alias("kept"),
        )
    )


def calibrate_semantic_threshold(
    corpus: DataFrame,
    q: float = 0.99,
    n_buckets: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 1,
    max_cluster_size: int | None = 10_000,
) -> float:
    """Pick :func:`semantic_dedup`'s ``threshold`` from the data instead
    of folklore (VERDICT r05 "What's missing" #3): cluster a (sampled)
    corpus exactly the way semantic_dedup will, compute every
    WITHIN-cluster pair cosine under the identical rounding, and return
    the ``q``-quantile. A threshold at q prunes ~the top (1-q) of
    within-cluster pairs — q=0.99 keeps the prune selective; calibrate
    per embedding model, since cosine mass concentrates very differently
    across models.

    Determinism: the k-means fit is RNG-free, sampling is an id-hash
    filter (``xxhash64(id) % sample_mod == 0`` — reproducible, unlike
    ``DataFrame.sample``), and the quantile is the exact
    ``percentile``, so the same corpus + parameters always return the
    same threshold (unit-pinned). Scale: run on a sample
    (``sample_mod`` ~ corpus_rows / 100k) — pair volume is bounded the
    same way as semantic_dedup (per-cluster equi-join, oversized
    clusters excluded whole), and the quantile of within-cluster cosines
    is stable under uniform sampling."""
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    if sample_mod > 1:
        corpus = corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0
        )
    codebook = kmeans_fit(corpus, n_buckets, iters, id_col, vec_col)
    dv = _as_double(F.col(vec_col))
    vecs = corpus.select(F.col(id_col), dv.alias("cv"))
    assigned = (
        assign_buckets(vecs, codebook)
        .withColumn("cn", _norm(F.col("cv")))
        .select(F.col(id_col), F.col("bucket").cast("int").alias("bucket"), "cv", "cn")
    )
    if max_cluster_size is not None:
        oversized = (
            assigned.groupBy("bucket")
            .count()
            .filter(F.col("count") > max_cluster_size)
            .select("bucket")
        )
        assigned = assigned.join(F.broadcast(oversized), "bucket", "left_anti")
    a = assigned.select(
        F.col(id_col).alias("id_a"), "bucket", F.col("cv").alias("va"), F.col("cn").alias("na")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), "bucket", F.col("cv").alias("vb"), F.col("cn").alias("nb")
    )
    denom = F.col("na") * F.col("nb")
    sim = F.when(denom == 0, None).otherwise(_dot(F.col("va"), F.col("vb")) / denom)
    row = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.round(sim + F.lit(5e-10), 6).alias("s"))
        .filter(F.col("s").isNotNull())
        .agg(F.expr(f"percentile(s, CAST({q!r} AS DOUBLE))").alias("t"))
        .collect()[0]
    )
    if row["t"] is None:
        raise ValueError(
            "calibrate_semantic_threshold: no within-cluster pairs survive "
            "sampling/caps — lower sample_mod or n_buckets"
        )
    return float(row["t"])


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — per-dimension 8-bit codes
# ---------------------------------------------------------------------------

def sq8_fit(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension [min, max] bounds for 8-bit scalar quantization
    (FAISS SQ8-style trained range). posexplode + groupBy(pos) keeps the
    shuffle at one row per dimension (map-side combined); the result is
    a 1-row frame (mins, maxs) meant to broadcast. min/max of doubles
    is exact, so the fit is bit-deterministic."""
    expl = corpus.select(F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x"))
    bounds = expl.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return bounds.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("pm"),
        F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("px"),
    ).select(
        F.transform("pm", lambda s: s["mn"]).alias("mins"),
        F.transform("px", lambda s: s["mx"]).alias("maxs"),
    )


def _sq8_code(x: Column, mn: Column, mx: Column) -> Column:
    """floor-to-256-buckets code, clamped to [0, 255]; a collapsed
    dimension (mx == mn) codes to 0. floor, not round: round-half
    behavior differs across engines, floor does not."""
    scaled = ((x - mn) / (mx - mn)) * F.lit(256.0)
    return (
        F.when(mx == mn, F.lit(0))
        .otherwise(F.least(F.floor(scaled).cast("int"), F.lit(255)))
    )


def sq8_encode(
    corpus: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to array<int> 8-bit codes against broadcast
    bounds — a pure narrow map (transform over the dimension index
    inside codegen); at scale the codes column is the stored index
    (4 bytes/dim here for gate readability; a production sink packs it
    to 1 byte/dim with a binary cast on write)."""
    v = _as_double(F.col(vec_col))
    enc = F.transform(
        F.sequence(F.lit(0), F.size(v) - F.lit(1)),
        lambda i: _sq8_code(
            F.element_at(v, i + 1),
            F.element_at(F.col("mins"), i + 1),
            F.element_at(F.col("maxs"), i + 1),
        ),
    )
    return corpus.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col), enc.alias("codes"), "mins", "maxs"
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over the SQ8-compressed corpus: vectors
    are dequantized to bucket midpoints (mn + (code + 0.5) * width/256)
    and scored against FULL-precision queries — the asymmetric scheme
    (query uncompressed, corpus compressed) every production scalar
    quantizer uses. Like the PQ family, approximate w.r.t. brute force
    but fully deterministic given the data, so the oracle replays the
    fit/encode/dequantize/score pipeline and the gate value-checks the
    quantization semantics themselves.

    Scale: fit is one dimension-keyed aggregate; encode is a narrow map
    against broadcast bounds; serving scans codes (4-32x smaller than
    raw vectors — the point of SQ8: memory-bound ANN scans speed up by
    the compression factor) and the per-query rank is the same
    bucket-free top-k as brute_force_topk. Returns (query_id, vec_id,
    sq_sim, rank)."""
    from pyspark.sql import Window

    from rearview_spark.operators._util import ensure_parallelism

    bounds = sq8_fit(corpus, vec_col)
    enc = sq8_encode(ensure_parallelism(corpus, id_col), bounds, id_col, vec_col)
    dq = F.transform(
        F.sequence(F.lit(0), F.size(F.col("codes")) - F.lit(1)),
        lambda i: F.element_at(F.col("mins"), i + 1)
        + (
            (F.element_at(F.col("codes"), i + 1).cast("double") + F.lit(0.5))
            * (
                (
                    F.element_at(F.col("maxs"), i + 1)
                    - F.element_at(F.col("mins"), i + 1)
                )
                / F.lit(256.0)
            )
        ),
    )
    c = enc.select(F.col(id_col), dq.alias("dqv"))
    qv = _as_double(F.col(vec_col))
    q = queries.select(F.col(id_col).alias("query_id"), qv.alias("qv"))
    sim = cosine(F.col("qv"), F.col("dqv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, F.round(sim + F.lit(5e-10), 6).alias("sq_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sq_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sq8_error_audit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """Quantization-fidelity audit for the SQ8 index — the ANN sibling
    of dedup.minhash_estimate_error: encode the corpus against its own
    trained bounds, reconstruct each dimension at the bucket CENTER
    (``mn + (code + 0.5) * (mx - mn) / 256``), and summarize the
    per-vector RMSE — the measurement that justifies 8-bit storage
    before a recall-sensitive serving path trusts it.

    Determinism: bounds are exact min/max picks; code assignment uses
    floor (engine-identical, the _sq8_code contract); each vector's
    RMSE is a fixed double expression quantized to 1/``scale`` units
    in int64 BEFORE the summary, so mean (one division) and p50/p90
    (element picks) and max (comparison) all run on integers. The
    per-vector dimension fold is sequential in both engines; at 6dp
    output granularity the last-ulp association risk is the same one
    every cosine gate already carries.

    Scale shape: one bounds pass (dimension-domain aggregate, one-row
    broadcast), one narrow encode+reconstruct map over the corpus, one
    summary collapse. Returns one row ``(n_vectors, mean_rmse,
    p50_rmse, p90_rmse, max_rmse)``.
    """
    bounds = sq8_fit(corpus, vec_col)
    v = _as_double(F.col(vec_col))
    dim = F.size(v)

    def recon_term(i):
        x = F.element_at(v, i + 1)
        mn = F.element_at(F.col("mins"), i + 1)
        mx = F.element_at(F.col("maxs"), i + 1)
        code = _sq8_code(x, mn, mx)
        recon = F.when(mx == mn, mn).otherwise(
            mn + ((code.cast("double") + F.lit(0.5)) * (mx - mn)) / F.lit(256.0)
        )
        d = x - recon
        return d * d

    sq = F.aggregate(
        F.sequence(F.lit(0), dim - F.lit(1)),
        F.lit(0.0),
        lambda acc, i: acc + recon_term(i),
    )
    rmse = F.sqrt(sq / dim.cast("double"))
    units = (
        corpus.crossJoin(F.broadcast(bounds))
        .select(
            F.round(rmse * F.lit(float(scale))).cast("long").alias("u")
        )
    )
    agg = units.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("u").alias("_su"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY u)").alias("_p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY u)").alias("_p90"),
        F.max("u").alias("_mx"),
    )
    to_d = lambda c: c.cast("double") / F.lit(float(scale))  # noqa: E731
    return agg.select(
        "n_vectors",
        (
            F.col("_su").cast("double")
            / F.col("n_vectors").cast("double")
            / F.lit(float(scale))
        ).alias("mean_rmse"),
        to_d(F.col("_p50")).alias("p50_rmse"),
        to_d(F.col("_p90")).alias("p90_rmse"),
        to_d(F.col("_mx")).alias("max_rmse"),
    )


def silhouette(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified silhouette audit of a centroid assignment (Rousseeuw
    1987, centroid form): for every vector, cosine distance to its OWN
    (nearest) centroid ``a``, to the best OTHER centroid ``b``, and the
    score ``(b - a) / max(a, b)`` — the per-point read on whether the
    clustering :func:`kmeans_fit` produced is tight (→1), marginal
    (→0), or has points sitting between clusters. The full-pairwise
    silhouette is O(n²) and dies at corpus scale; the centroid form is
    the standard scale substitute (one row per vector, k folds each)
    and, because assignment IS nearest-centroid, scores are always
    >= 0 — the audit signal is their distribution, per cluster.

    Determinism contract (the :func:`assign_buckets` discipline): the
    codebook is config-scale so it collects to the driver and each
    centroid's cosine becomes a column expression over a SQL-literal
    array (``repr`` round-trips doubles exactly); argmax ties resolve
    to the smallest bucket; zero-norm vectors carry the ``-2.0``
    cosine sentinel on every centroid (a = b = 3 → score 0, smallest
    bucket). ``a_dist``/``b_dist``/``score`` are rounded at the output
    edge only (nudged 6dp, plans/_exact.py rule) — no cross-row float
    accumulation anywhere, so per-row values hash bit-identically
    cross-engine. Single-centroid codebooks yield NULL b_dist/score
    (no "other" cluster to compare against).

    Scale shape: narrow projection over ONE corpus scan — k dot folds
    + one norm fold per row (HOFs never enter codegen, so fold count
    is the cost), zero shuffles, zero joins. Per-cluster roll-ups are
    the caller's aggregate over this frame.
    """
    import math

    cents = sorted(codebook.collect(), key=lambda r: r["bucket"])
    sims = []
    for r in cents:
        arr = (
            "array("
            + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in r["centroid"])
            + ")"
        )
        cn = math.sqrt(sum(x * x for x in r["centroid"]))
        dot = (
            f"aggregate(zip_with(__v, {arr}, (x, y) -> x * y),"
            " CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        )
        denom = f"(__ncv * CAST({cn!r} AS DOUBLE))"
        sim = (
            f"(CASE WHEN {denom} = 0 THEN CAST(-2.0 AS DOUBLE)"
            f" ELSE {dot} / {denom} END)"
        )
        sims.append(
            f"named_struct('s', {sim}, 'nb', {-r['bucket']}, 'b', {r['bucket']})"
        )
    ncv = (
        "sqrt(aggregate(transform(__v, x -> x * x),"
        " CAST(0.0 AS DOUBLE), (a, b) -> a + b))"
    )
    all_structs = f"array({', '.join(sims)})"
    own = f"array_max({all_structs})"
    other = f"array_max(filter({all_structs}, t -> t.b != __own.b))"
    return (
        corpus.select(
            F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
        )
        .withColumn("__ncv", F.expr(ncv))
        .withColumn("__own", F.expr(own))
        .withColumn("__oth", F.expr(other))
        .select(
            F.col(id_col),
            F.col("__own.b").alias("bucket"),
            F.round(
                F.lit(1.0) - F.col("__own.s") + F.lit(5e-10), 6
            ).alias("a_dist"),
            F.round(
                F.lit(1.0) - F.col("__oth.s") + F.lit(5e-10), 6
            ).alias("b_dist"),
            F.round(
                # greatest() skips NULLs, so the zero-distance guard
                # must not swallow the single-centroid NULL case
                F.when(F.col("__oth.s").isNull(), F.lit(None))
                .when(
                    F.greatest(
                        F.lit(1.0) - F.col("__own.s"),
                        F.lit(1.0) - F.col("__oth.s"),
                    )
                    == 0,
                    F.lit(0.0),
                ).otherwise(
                    (F.col("__own.s") - F.col("__oth.s"))
                    / (
                        F.lit(1.0)
                        - F.least(F.col("__own.s"), F.col("__oth.s"))
                    )
                )
                + F.lit(5e-10),
                6,
            ).alias("score"),
        )
    )
