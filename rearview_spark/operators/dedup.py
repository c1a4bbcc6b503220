"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

North-star extensions (BASELINE.json) for training-data pipelines. Design
for 100 TB:

- **exact**: hash-groupBy on a 128-bit fingerprint of normalized text —
  one shuffle keyed by the fingerprint; the canonical representative is
  ``min(doc_id)`` (deterministic).
- **MinHash+LSH**: the scalable near-dup path. Per-doc signatures are a
  narrow map (shingle → 60-bit hash → per-permutation min, all inside one
  JVM projection over arrays — no explode, no Python). LSH banding turns
  the O(n²) pair space into groupBy(band_hash) buckets: only docs sharing
  a band collide, so the shuffle is proportional to candidate pairs, not
  n². Verified Jaccard is then computed only for candidates.
- **n-gram Jaccard**: exact pairwise scores via an inverted shingle index
  (explode + self-join on shingle). Quadratic in the worst case — the
  *verification* primitive, not the discovery path at scale.
- **SimHash**: 60-bit sign-sum signature; near-dups = signatures within
  Hamming distance k via the pigeonhole chunk join (k+1 chunks of >=15
  bits each — >=32k distinct values per chunk, so the equi-join stays
  selective at corpus scale; round 1's 16-bit signature had 16-value
  chunks that degenerated toward n²/16). 60 bits, not 64: the md5-prefix
  token hash has exactly 60 usable bits (wider signatures would carry
  constant-zero high bits = one degenerate all-match chunk), and staying
  under the sign bit keeps Spark ``long`` and DuckDB ``BIGINT`` shift/
  mask semantics identical for the oracle.
- **Bucket caps**: every LSH-style candidate join (minhash bands, simhash
  chunks, embedding hyperplane bands) drops buckets larger than
  ``max_bucket_size`` before the self-join — a degenerate key (e.g. a
  fleet of empty docs) would otherwise go quadratic inside one bucket.
  The cap is part of the operator contract and reproduced in the SQL
  oracles (COUNT() OVER the same key).

All hashing is md5-prefix-based (``conv(substr(md5(x),1,15),16,10)``) so a
SQL oracle can reproduce every stage bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rearview_spark.operators._util import bcast_state as _bcast_state
from rearview_spark.operators._util import ensure_parallelism, fixed_point
from rearview_spark.operators._util import observed_checkpoint as _observed_checkpoint
from rearview_spark.operators.text import normalize_text, tokens

# Fixed, public hash-mixing constants (string salts keep the scheme
# reproducible in any engine with md5).
DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 16 hashes / 4 bands = 4 rows per band
DEFAULT_SIMHASH_BITS = 60  # full width of the 60-bit md5-prefix token hash
# Largest LSH bucket that may enter a candidate self-join. A bucket of b
# docs yields ~b²/2 pairs; 1000 bounds any single key at ~500k pairs while
# leaving legitimate near-dup buckets (tens of docs) untouched.
DEFAULT_MAX_BUCKET_SIZE = 1000


def _cap_buckets(df: DataFrame, keys: list[str], max_bucket_size: int | None) -> DataFrame:
    """Drop rows of LSH buckets holding more than ``max_bucket_size`` docs;
    oversized buckets are dropped WHOLE (their members still meet through
    their other bands/chunks, and a degenerate key — empty docs, a
    boilerplate header — can't go quadratic).

    Shape: the hot-key list is BY DEFINITION tiny (keys with >cap
    members), so it's computed with a map-side-combined count aggregate
    (shuffle carries one row per distinct key per partition, not the
    corpus) and removed with a broadcast anti-join — the banded rows
    themselves are never re-shuffled. A count window over (keys) would
    shuffle every row before the self-join even gets to pick its own
    join strategy (~2x on the LSH gate queries at sf0.1)."""
    if max_bucket_size is None:
        return df
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket_size)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")


def _hash60(col: Column) -> Column:
    """Deterministic 60-bit integer hash of a string via md5 prefix —
    reproducible in DuckDB as CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_bucket(col: Column, salt: str, mod: int = 10000) -> Column:
    """The deterministic keep/split decision bucket every sampler shares:
    ``md5_60(col || ':' || salt) mod ``mod`` — compare against a
    threshold for rerun-stable sampling with no RNG (stratified_sample,
    token_budget_mix, cluster_balanced_sample, leakage_safe_split)."""
    return F.pmod(_hash60(F.concat(col.cast("string"), F.lit(f":{salt}"))), F.lit(mod))


def _exact_jaccard(set_a: str, set_b: str) -> Column:
    """Exact Jaccard of two fingerprint-set array columns, 6dp
    nudge-rounded (the cross-engine rounding discipline of
    plans/_exact.py) — the verification expression both the batch and
    incremental minhash operators decide on, single-sourced."""
    inter = F.size(F.array_intersect(set_a, set_b)).cast("double")
    union = F.size(F.array_union(set_a, set_b)).cast("double")
    return F.round(inter / union + F.lit(5e-10), 6)


def _ngram_fold(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array, position-ordered, as
    an n-way ``zip_with`` fold over shifted slices — NOT
    ``transform(sequence(...), i -> concat_ws(slice))``: higher-order
    functions evaluate interpreted (outside whole-stage codegen), and
    the per-ELEMENT sequence/slice tree made n-gram construction the
    dominant cost of the whole minhash pipeline at the 100x corpus; the
    zip_with form is ~5x faster for byte-identical output (same finding
    as selection.doc_features; PLANS.md round-7 notes). Arrays shorter
    than n yield garbage slices — callers must guard (word_shingles
    falls back to the full text; positional_ngrams filters).

    SHARED by every operator whose md5 fingerprints must mean the same
    string (word_shingles, positional_ngrams) — keep it single-sourced."""
    cnt = F.size(toks)
    m = F.greatest(cnt - (n - 1), F.lit(1))
    acc = F.slice(toks, 1, m)
    for k in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, k + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return acc


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text -> array<string>.
    Documents shorter than n tokens contribute their full text as the
    single shingle. (Construction: :func:`_ngram_fold`.)"""
    toks = tokens(col)
    grams = F.when(F.size(toks) >= n, _ngram_fold(toks, n)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    return F.array_distinct(grams)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group documents by exact normalized-text fingerprint. Returns one row
    per fingerprint: canonical id (min), group size — the dedup decision
    table. One shuffle on the 128-bit key; skew-free (hash keys)."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("group_size"),
        )
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep only the canonical (min-id) row per fingerprint."""
    fp = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy(fp).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature as ``sig: array<long>`` of length
    ``num_hashes``. Permutation k is md5(shingle || ':k'); the signature
    element is the min over shingles.

    Shape: explode shingles -> one row per (doc, shingle) carrying all
    ``num_hashes`` hashes -> hash-aggregate back to one row per doc with
    ``num_hashes`` min() columns. Keeping each expression small holds the
    whole pipeline inside whole-stage codegen (a single projection with
    num_hashes nested array-lambdas trips Janino's method-size limits and
    silently falls back to interpreted evaluation, ~100x slower). The
    min() aggregation is map-side partial, so the shuffle carries one
    pre-reduced row per doc per partition."""
    df = ensure_parallelism(df, id_col)
    shingled = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    )
    return signature_from_shingles(shingled, id_col, num_hashes)


# Fixed 2-universal permutation constants (odd 31-bit ints, seed 42) for
# the one-base-hash MinHash family: perm_k(s) = A[k]*h1(s) + B[k]*h2(s) + k
# where h1/h2 are independent 28-bit md5 prefixes. Products stay < 2^59 and
# the sum < 2^60 — overflow-free bigint math in Spark AND DuckDB, so the
# oracle reproduces it with plain arithmetic (Broder-style linear
# permutations; one md5 per shingle instead of num_hashes of them — the
# md5+radix-conv per permutation was 80% of signature CPU).
_MH_A = [
    1373158607, 239081665, 53710185, 1592467583, 590620973, 525901257,
    479341425, 299655413, 1581559893, 220106709, 1453201079, 1590571867,
    1915941033, 1171165723, 186699715, 1268073013,
]
_MH_B = [
    906070221, 68252795, 63989049, 201209007, 469521479, 499635469,
    1085242217, 1292825379, 56985563, 1205264597, 427000597, 1537640409,
    1395616197, 1506083911, 1170252925, 900911955,
]


def signature_from_shingles(
    shingled: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    with_hash_set: bool = False,
) -> DataFrame:
    """MinHash signatures from a precomputed ``(id, sh: array<string>)``
    frame (lets callers share one shingling pass across signature and
    verification stages).

    ``with_hash_set=True`` additionally returns ``shs: array<long>`` —
    the doc's distinct 60-bit shingle fingerprints, sorted. It rides the
    SAME groupBy as the signature mins (one collect_set more in the
    existing map-side-combined aggregation, zero extra shuffles) and is
    what the verification stage intersects instead of the raw string
    shingles: ~8 bytes per shingle instead of ~30, so the candidate-pair
    join shuffles ~4x less (the measured disk blow-up at the 100x
    corpus). 60-bit md5 fingerprint equality stands in for string
    equality exactly as in :func:`exact_duplicates`'s md5 keys — a
    collision inside one document pair is ~|sh|^2/2^60 ≈ 1e-15."""
    if num_hashes > len(_MH_A):
        raise ValueError(f"num_hashes > {len(_MH_A)} needs more permutation constants")
    exploded = shingled.select(F.col(id_col), F.explode("sh").alias("shingle"))
    md5 = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(md5, 1, 7), 16, 10).cast("long")
    h2 = F.conv(F.substring(md5, 8, 7), 16, 10).cast("long")
    h60 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
    # Permutations, mins, and the array reassembly are built as one SQL
    # string per column (F.expr): the equivalent Column-API chains cost a
    # Py4J driver round-trip PER OPERATOR (~100 for 16 permutations),
    # which at one plan build per query is pure driver latency.
    hashed = exploded.select(
        F.col(id_col).alias(id_col),
        h1.alias("_h1"),
        h2.alias("_h2"),
        h60.alias("_h60"),
    ).select(
        id_col,
        "_h60",
        *[
            F.expr(f"{_MH_A[k]}L * _h1 + {_MH_B[k]}L * _h2 + {k}").alias(f"h{k}")
            for k in range(num_hashes)
        ],
    )
    aggs = [F.expr(f"min(h{k})").alias(f"m{k}") for k in range(num_hashes)]
    if with_hash_set:
        aggs.append(F.sort_array(F.collect_set("_h60")).alias("shs"))
    mins = hashed.groupBy(id_col).agg(*aggs)
    arr = "array(" + ", ".join(f"m{k}" for k in range(num_hashes)) + ")"
    cols = [F.col(id_col), F.expr(arr).alias("sig")]
    if with_hash_set:
        cols.append(F.col("shs"))
    return mins.select(*cols)


def _band_structs_sql(num_hashes: int, bands: int) -> str:
    """SQL for ``array<struct<band:int, bh:string>>`` over a ``sig``
    column: one struct per band, ``bh`` the md5 of that band's signature
    slice. Shared by :func:`band_signatures` (transient banding) and
    :func:`minhash_store_rows` (banding materialized into store rows) so
    the two can never drift — a store probed with keys computed by a
    different slicing would silently match nothing."""
    rows = num_hashes // bands
    band_structs = ", ".join(
        "struct({b} AS band, md5(concat_ws(',', {cols})) AS bh)".format(
            b=b,
            cols=", ".join(
                f"CAST(sig[{b * rows + r}] AS STRING)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"array({band_structs})"


def band_signatures(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Explode ``(id, sig)`` into the banded LSH form ``(id, band, bh)``
    — one row per band, ``bh`` the md5 of that band's signature slice.
    The (band, bh) pair is the LSH bucket key every candidate join keys
    on; the incremental store materializes exactly this projection as a
    ``bands`` array column at append time (:func:`minhash_store_rows`)
    so history is never re-banded."""
    return signatures.select(
        id_col,
        F.explode(F.expr(_band_structs_sql(num_hashes, bands))).alias("bb"),
    ).select(id_col, "bb.band", "bb.bh")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Band the signatures and emit candidate pairs (id_a < id_b) sharing at
    least one band. The per-band bucket join is the scale path: shuffle is
    keyed on (band_idx, band_hash) so only colliding docs meet; buckets
    larger than ``max_bucket_size`` are dropped whole (see
    :func:`_cap_buckets`)."""
    banded = band_signatures(signatures, id_col, num_hashes, bands)
    banded = _cap_buckets(banded, ["band", "bh"], max_bucket_size)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    scope_caches: bool = True,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates → exact
    Jaccard verification on candidates only. Returns (id_a, id_b, jaccard)
    with jaccard >= threshold."""
    df = ensure_parallelism(df, id_col)
    shingled = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    )
    # ONE shingle->explode->md5->aggregate pass produces BOTH the minhash
    # signature and the doc's 60-bit shingle-fingerprint set (see
    # signature_from_shingles): the banding stage reads sig, the
    # verification stage intersects shs. Cached because the banded
    # self-join and the two verification sides are three consumers; the
    # per-doc row is narrow (16 longs + ~|sh| longs).
    sigs = signature_from_shingles(
        shingled, id_col, num_hashes, with_hash_set=True
    ).cache()
    cands = lsh_candidate_pairs(
        sigs.select(id_col, "sig"), id_col, num_hashes, bands, max_bucket_size
    )
    # Exact Jaccard on the fingerprint SETS (not the raw strings): the
    # candidate join shuffles pair rows carrying one doc's set each —
    # at the 100x adversarial corpus (~65M genuine candidate pairs) the
    # string-array form shuffled ~130 GB and overran local disk; the
    # long-array form is ~4x smaller and intersects without string
    # comparisons.
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("shs").alias("sh_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("shs").alias("sh_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    verified = (
        joined.select("id_a", "id_b", _exact_jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    # Materialize the (pairs-scale, small) verified result and release the
    # corpus-scale cache before returning: an unbounded .cache() pinned
    # for the caller's lifetime competes with the shuffle for storage
    # memory at 100 TB (VERDICT r04 "What's wrong" #4). localCheckpoint
    # also truncates the lineage so the returned frame references the
    # cache no longer. Measured sf0.1 cost of the eager materialization:
    # ~+3% wall on this operator (see PLANS.md "Cache-scoping cost") —
    # paid for the scale-safety; pass scope_caches=False to keep the lazy
    # frame and manage the cache lifetime yourself.
    if scope_caches:
        verified = verified.localCheckpoint(eager=True)
        sigs.unpersist()
    return verified


def minhash_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    scope_caches: bool = True,
) -> DataFrame:
    """Broder CONTAINMENT at scale: the same banded MinHash-LSH
    candidate generation as :func:`minhash_near_duplicates` (shuffle
    proportional to colliding pairs, never n²), with the verification
    stage computing the asymmetric ratios from the fingerprint sets —
    ``(id_a < id_b, containment_ab, containment_ba, jaccard)`` filtered
    on ``max(containment) >= threshold``. This is the production form
    of :func:`ngram_containment_pairs` (exact inverted-index, worst-case
    quadratic); note minhash resemblance-banding RECALLS asymmetric
    pairs only when they still collide in some band — a tiny doc inside
    a huge one may not, so containment-critical curation should lower
    band width or run the exact form on a pre-filtered slice."""
    df = ensure_parallelism(df, id_col)
    shingled = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    )
    sigs = signature_from_shingles(
        shingled, id_col, num_hashes, with_hash_set=True
    ).cache()
    cands = lsh_candidate_pairs(
        sigs.select(id_col, "sig"), id_col, num_hashes, bands, max_bucket_size
    )
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("shs").alias("sh_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("shs").alias("sh_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    verified = joined.select(
        "id_a", "id_b",
        F.round(inter / F.size("sh_a") + F.lit(5e-10), 6).alias("containment_ab"),
        F.round(inter / F.size("sh_b") + F.lit(5e-10), 6).alias("containment_ba"),
        _exact_jaccard("sh_a", "sh_b").alias("jaccard"),
    ).filter(
        F.greatest(F.col("containment_ab"), F.col("containment_ba")) >= threshold
    )
    if scope_caches:
        verified = verified.localCheckpoint(eager=True)
        sigs.unpersist()
    return verified


def minhash_store_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = 3,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """The signature-store row for each doc: ``(id, sig, shs, bands)`` —
    the minhash signature, the 60-bit shingle-fingerprint set, and the
    banded LSH keys (``array<struct<band,bh>>``, computed ONCE here, at
    append time), i.e. everything :func:`incremental_minhash_dedup`
    needs to match FUTURE documents against this one without re-reading
    its text OR re-banding its signature. ~350 bytes per doc; the store
    for a billion-doc corpus is a few hundred GB of parquet, not the
    corpus. Mirrors similarity.embedding_store_rows: materializing the
    band keys is what turns each micro-batch's history probe into a
    plain (band, bh) equi-join over a column-pruned scan instead of an
    O(store) signature re-projection per batch.

    ``bands`` MUST match the probing operator's ``bands`` — band keys
    are positional slices of ``sig``."""
    shingled = ensure_parallelism(df, id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    )
    sigs = signature_from_shingles(shingled, id_col, num_hashes, with_hash_set=True)
    return sigs.select(
        id_col,
        "sig",
        "shs",
        F.expr(_band_structs_sql(num_hashes, bands)).alias("bands"),
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    store: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup dedup of a NEW batch against an existing signature store
    — the shape a continuously ingesting corpus pipeline actually runs
    (batch :func:`minhash_near_duplicates` re-pairs the whole corpus
    every time; here history participates only through its ~200-byte
    signature rows, never its text).

    ``store`` is the accumulated :func:`minhash_store_rows` frame
    (``None`` for the first batch). Returns one row per NEW doc:
    ``(id, sig, shs, bands, dup_of, jaccard)`` — ``dup_of`` is the store
    doc or the smaller-id batch-mate it duplicates (best match by exact
    verified Jaccard, match id ascending as tie-break; NULL = unique).
    Append ``.filter(dup_of IS NULL).select(id, sig, shs, bands)`` to
    the store; that recurrence is packaged by
    :func:`incremental_dedup_foreach_batch` for Structured Streaming.

    Scale shape: the new batch is signature-banded once; the store
    arrives with its band keys ALREADY materialized
    (:func:`minhash_store_rows`'s ``bands`` column), so the per-batch
    cost over history is one (band, bh) equi-join over a scan that
    reads only ``(id, shs, bands)`` — never ``sig``, and never an
    O(store) :func:`band_signatures` re-projection (the r09 finding;
    plan-pinned by tests/test_plan_shapes.py). Persist the store
    bucketed/partition-pruned by band hash and each micro-batch probes
    only the buckets its own signatures hit (stream-static, the S11
    machinery). Bucket caps apply to the UNION of store+new occupancy,
    so a boilerplate bucket that grows without bound in the store is
    dropped the same way the batch operator drops it. A new doc's
    decision depends only on the store and smaller-id batch-mates — NOT
    on whether the mate itself was kept (transitive canonicalization is
    :func:`duplicate_groups`'s job; ingest needs drop decisions now).

    ``new_sigs`` (optional) is the batch's :func:`minhash_store_rows`
    frame when the caller has ALREADY signed it — e.g. a backfill that
    derives store and batch halves from one corpus, where a single
    shared signature pass (materialized once, sliced twice) replaces
    two half-corpus shingle+md5 pipelines (r17; the gate measured
    0.7x). The caller guarantees it was built with the SAME
    num_hashes/shingle_n/bands — band keys are positional slices of
    ``sig``, so a mismatch silently matches nothing.

    Invariant (documented, not checked — checking costs an action):
    ``new_sigs`` must be exactly ``minhash_store_rows(new_docs, …)``,
    with the SAME id set as ``new_docs``. The retry-hygiene anti-join
    below excludes store rows by ``new_docs`` ids, while the output
    rows come from ``new_sigs``. An id only in ``new_sigs`` keeps its
    own store row on a retry (doubling its bucket occupancy — the
    decision reversal the anti-join exists to prevent); an id only in
    ``new_docs`` hides a store row from the batch's matching without
    emitting a decision for it.
    """
    if new_sigs is None:
        new_sigs = minhash_store_rows(
            new_docs, text_col, id_col, num_hashes, shingle_n, bands
        )
    new_sigs = new_sigs.cache()
    banded_new = (
        new_sigs.select(F.col(id_col), F.explode("bands").alias("bb"))
        .select(id_col, "bb.band", "bb.bh")
        .withColumn("_new", F.lit(True))
    )
    if store is not None:
        # Retry hygiene: a foreachBatch RETRY sees its own unique rows
        # already in the store. The candidate join's self-guard alone is
        # not enough — the duplicate rows still DOUBLE (band, bh) bucket
        # occupancy, which can flip _cap_buckets and reverse decisions
        # (drop the bucket the first run matched in). Excluding store
        # rows whose id is in the batch (broadcast anti-join at
        # micro-batch scale) restores the first run's world exactly.
        # The broadcast side is the RAW batch id projection, not
        # new_sigs (r16): broadcasting new_sigs ids forced the whole
        # batch signature pipeline to materialize before the store scan
        # could even start; the raw ids are a scan-time projection, so
        # the store side and the signature pipeline overlap. Store rows
        # only exist for docs that shingled, so a batch id matching a
        # store row implies the sig pipeline would have carried it too
        # — the excluded set is identical.
        store = store.join(
            F.broadcast(new_docs.select(id_col)), id_col, "left_anti"
        )
        if "bands" not in store.columns:
            # Legacy store written before band keys were materialized:
            # re-band it this once (the old per-batch cost). New writes
            # carry bands, so the fallback ages out with the next store
            # rewrite/compaction.
            store = store.withColumn(
                "bands", F.expr(_band_structs_sql(num_hashes, bands))
            )
        store = store.select(id_col, "shs", "bands").cache()
        banded_store = (
            store.select(F.col(id_col), F.explode("bands").alias("bb"))
            .select(id_col, "bb.band", "bb.bh")
            .withColumn("_new", F.lit(False))
        )
        banded = banded_new.unionByName(banded_store)
    else:
        banded = banded_new
    banded = _cap_buckets(banded, ["band", "bh"], max_bucket_size)

    a = banded.alias("a")
    b = banded.alias("b")
    # candidate (new_id, match_id): new-vs-store on bucket equality, plus
    # new-vs-smaller-new within the batch
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & F.col("a._new")
            # never match a doc against its own id: a foreachBatch RETRY
            # re-processes a batch whose unique rows were already appended
            # to the store, and without this guard every such doc would
            # decide dup_of=self (jaccard 1.0) and be dropped
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
    sides = new_sigs.select(F.col(id_col).alias("_nid"), F.col("shs").alias("_sh_n"))
    pool = new_sigs.select(F.col(id_col), F.col("shs"))
    if store is not None:
        pool = pool.unionByName(store.select(id_col, "shs"))
    matches = cands.join(sides, "_nid").join(
        pool.select(F.col(id_col).alias("_mid"), F.col("shs").alias("_sh_m")),
        "_mid",
    )
    scored = matches.select(
        "_nid", "_mid", _exact_jaccard("_sh_n", "_sh_m").alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    best = (
        scored.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_nid").orderBy(
                    F.col("jaccard").desc(), F.col("_mid").asc()
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .select(
            F.col("_nid").alias(id_col), F.col("_mid").alias("dup_of"), "jaccard"
        )
    )
    out = new_sigs.join(best, id_col, "left").localCheckpoint(eager=True)
    new_sigs.unpersist()
    if store is not None:
        store.unpersist()
    return out


def minhash_store_pruned_rows(
    store_rows: DataFrame, id_col: str = "doc_id", prefix_chars: int = 2
) -> DataFrame:
    """Explode :func:`minhash_store_rows` output into the
    PARTITION-PRUNABLE store layout: one row per (doc, band) —
    ``(pfx, band, bh, id, shs)``, ``pfx`` the first ``prefix_chars``
    hex chars of the band hash (16^prefix_chars partition values).
    Persisted ``partitionBy("pfx")``, the incremental probe scans only
    the prefixes the batch hits.

    ``shs`` rides along per banded row (~3-4x the compact row store's
    bytes): the verify stage reads it off the matched row itself, so a
    probe is ONE pruned scan — no second full-table fetch of
    fingerprint sets. That inflation sets the SIZING RULE (measured,
    PLANS.md r10): the probe reads ~``min(1, bands·batch/16^prefix_chars)
    × inflation × store_bytes``, so it beats the compact full scan only
    when the hit fraction is well under ~1/3 — size ``prefix_chars`` so
    ``16^prefix_chars ≳ 12 × bands × batch_docs``. Micro-batches of
    thousands of docs need prefix_chars=4 (65k dirs — an object-store
    layout, not local FS); a 2-char prefix suits trickle ingest (≤ ~20
    docs/batch). For batch sizes that hit most prefixes anyway, the
    compact :func:`minhash_store_rows` layout's full scan is the faster
    plan and remains the default. The probing operator must be called
    with the SAME ``prefix_chars`` the store was written with."""
    return store_rows.select(
        F.col(id_col), F.col("shs"), F.explode("bands").alias("bb")
    ).select(
        F.substring(F.col("bb.bh"), 1, int(prefix_chars)).alias("pfx"),
        F.col("bb.band").alias("band"),
        F.col("bb.bh").alias("bh"),
        F.col(id_col),
        F.col("shs"),
    )


def _pruned_store_prefixes(spark, store_path: str) -> list[str]:
    """The pfx partition values present under a pruned store root — ONE
    driver-side Hadoop listStatus of the root dir
    (:func:`rearview_spark.operators._util.hadoop_child_names`), never
    Spark's recursive partition discovery (which runs a distributed
    listing job over EVERY partition dir on each read). Empty list when
    the root doesn't exist yet."""
    from rearview_spark.operators._util import hadoop_child_names

    return hadoop_child_names(spark, store_path, "pfx=")


def incremental_minhash_dedup_pruned(
    new_docs: DataFrame,
    spark,
    store_path: str | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    prefix_chars: int = 2,
) -> DataFrame:
    """:func:`incremental_minhash_dedup` against a PERSISTED
    :func:`minhash_store_pruned_rows` store — decision-identical output
    (same columns, same dup_of/jaccard; tests pin equality), but the
    history side is a partition-pruned scan of only the band-hash
    prefixes the batch actually hits instead of a full store read.
    ``prefix_chars`` MUST match the store's (see the sizing rule on
    :func:`minhash_store_pruned_rows` — this path wins only when the
    batch hits well under a third of the prefix space).

    Why identical: pruning is by ``pfx = substr(bh, 1, 2)``, so every
    store member of a HIT (band, bh) bucket shares the prefix and
    survives the prune — bucket occupancy (the `_cap_buckets` input) is
    exactly what the unpruned union sees for those buckets, and un-hit
    buckets can never produce a candidate (a candidate needs a batch
    row in the bucket). Retry hygiene also survives pruning: a retried
    batch's store residue has the SAME text, hence the same band
    hashes, hence lives inside the hit prefixes where the anti-join
    removes it.

    Scale: the probe lists the store ROOT once (one driver-side
    listStatus — 16^prefix_chars entries), intersects with the batch's
    hit prefixes, and reads ONLY those partition dirs by explicit path
    (``basePath`` read with an explicit schema). This matters twice: a
    plain ``read.parquet(root).filter(pfx.isin(...))`` prunes the SCAN
    but still pays an O(all dirs) distributed listing job per batch
    (measured: ~6 s over 4096 dirs at 1M rows — larger than the scan it
    was saving), and partition-value type inference would mangle
    leading-zero hex prefixes. The batch side is broadcast into the
    join, so the store side never shuffles at all; a metastore/Delta
    log replaces the root listing in a long-lived deployment."""
    new_sigs = minhash_store_rows(
        new_docs, text_col, id_col, num_hashes, shingle_n, bands
    ).cache()
    banded_new = (
        new_sigs.select(F.col(id_col), F.explode("bands").alias("bb"))
        .select(id_col, "bb.band", "bb.bh")
        .withColumn("_new", F.lit(True))
    ).cache()

    store_hit = None
    if store_path is not None:
        # the batch's hit prefixes: bounded by
        # min(16^prefix_chars, bands*batch) values, collected
        # driver-side to drive the partition-dir selection
        pfxs = {
            r[0]
            for r in banded_new.select(
                F.substring("bh", 1, int(prefix_chars)).alias("pfx")
            ).distinct().collect()
        }
        hit_dirs = sorted(pfxs & set(_pruned_store_prefixes(spark, store_path)))
        if hit_dirs:
            schema = f"band int, bh string, {id_col} long, shs array<long>, pfx string"
            store_hit = (
                spark.read.option("basePath", store_path)
                .schema(schema)
                .parquet(*[f"{store_path.rstrip('/')}/pfx={p}" for p in hit_dirs])
            )
            # retry hygiene: exclude the batch's own residue (same
            # reasoning as incremental_minhash_dedup — residue shares
            # the batch's band hashes, so it lives inside hit prefixes)
            # a crashed append can leave a doc's banded rows twice; one
            # row per (id, band) restores exact occupancy counts (the
            # rows-layout read's dropDuplicates(id), pruned-scale)
            store_hit = (
                store_hit.join(
                    F.broadcast(new_sigs.select(id_col)), id_col, "left_anti"
                )
                .dropDuplicates([id_col, "band"])
                .cache()
            )

    if store_hit is not None:
        banded_store = store_hit.select(id_col, "band", "bh").withColumn(
            "_new", F.lit(False)
        )
        banded = banded_new.unionByName(banded_store)
    else:
        banded = banded_new
    banded = _cap_buckets(banded, ["band", "bh"], max_bucket_size)

    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & F.col("a._new")
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
    sides = new_sigs.select(F.col(id_col).alias("_nid"), F.col("shs").alias("_sh_n"))
    pool = new_sigs.select(F.col(id_col), F.col("shs"))
    if store_hit is not None:
        pool = pool.unionByName(
            store_hit.select(id_col, "shs").dropDuplicates([id_col])
        )
    matches = cands.join(sides, "_nid").join(
        pool.select(F.col(id_col).alias("_mid"), F.col("shs").alias("_sh_m")),
        "_mid",
    )
    scored = matches.select(
        "_nid", "_mid", _exact_jaccard("_sh_n", "_sh_m").alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    best = (
        scored.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_nid").orderBy(
                    F.col("jaccard").desc(), F.col("_mid").asc()
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .select(
            F.col("_nid").alias(id_col), F.col("_mid").alias("dup_of"), "jaccard"
        )
    )
    out = new_sigs.join(best, id_col, "left").localCheckpoint(eager=True)
    new_sigs.unpersist()
    banded_new.unpersist()
    if store_hit is not None:
        store_hit.unpersist()
    return out


def incremental_dedup_foreach_batch(
    spark,
    store_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    decisions_dir: str | None = None,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    layout: str = "rows",
    prefix_chars: int = 2,
):
    """Package :func:`incremental_minhash_dedup` as a Structured
    Streaming ``foreachBatch`` callback: each micro-batch of documents
    dedups against the parquet signature store at ``store_dir``, the
    batch's UNIQUE docs' signature rows are appended to the store, and
    (optionally) every decision row is appended to ``decisions_dir``
    for audit. The store read is the static side of a stream-static
    join re-read per micro-batch — S11's machinery, so a store
    compaction is picked up on the next batch.

    ``layout="rows"`` (default) keeps the compact one-row-per-doc store
    and reads it whole each batch; ``layout="pruned"`` keeps the
    :func:`minhash_store_pruned_rows` banded layout partitioned by band
    -hash prefix and probes it with :func:`incremental_minhash_dedup_pruned`
    — the store scan prunes to the batch's hit prefixes, which is the
    sub-linear serving path once the store dwarfs a micro-batch. The
    two layouts make IDENTICAL decisions (tests pin equality); a store
    dir must use one layout throughout.

    The minhash knobs MUST match across every batch that shares a
    store (banding slices ``sig`` by position — a store built with
    different ``num_hashes`` or ``bands`` would band garbage; the
    materialized ``bands`` column bakes the banding in at append time),
    so they are plumbed here rather than hardcoded. A store written
    before the ``bands`` column existed must be migrated as a whole
    (one rewrite through :func:`minhash_store_rows`'s banding expr) —
    parquet dirs mixing the two schemas are not supported; the
    operator's legacy fallback covers homogeneous old stores only. Retry safety (foreachBatch is
    at-least-once): self-matches are excluded in the operator, and the
    store read drops duplicate ids, so a re-run of a half-committed
    batch decides every doc exactly as the first run did; the only
    retry residue is a duplicate store ROW, which the id-dedup here
    masks and a store compaction pass can drop."""
    from pyspark.errors import AnalysisException

    if layout not in ("rows", "pruned"):
        raise ValueError(f"unknown store layout {layout!r}")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if layout == "pruned":
            decided = incremental_minhash_dedup_pruned(
                batch_df,
                spark,
                store_dir,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
                max_bucket_size=max_bucket_size,
                prefix_chars=prefix_chars,
            )
            uniques = decided.filter(F.col("dup_of").isNull()).select(
                id_col, "sig", "shs", "bands"
            )
            (
                minhash_store_pruned_rows(uniques, id_col, prefix_chars)
                .write.partitionBy("pfx")
                .mode("append")
                .parquet(store_dir)
            )
        else:
            try:
                # probe through Spark (Hadoop FS), not os.path: store_dir
                # may be hdfs:// or s3a:// where driver-local listing sees
                # nothing
                store = spark.read.parquet(store_dir).dropDuplicates([id_col])
            except AnalysisException:  # missing dir / no parquet yet
                store = None
            decided = incremental_minhash_dedup(
                batch_df,
                store,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
                max_bucket_size=max_bucket_size,
            )
            (
                decided.filter(F.col("dup_of").isNull())
                .select(id_col, "sig", "shs", "bands")
                .write.mode("append")
                .parquet(store_dir)
            )
        if decisions_dir is not None:
            (
                decided.select(id_col, "dup_of", "jaccard")
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(decisions_dir)
            )

    return _process


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted-index pairwise)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    shingle_n: int = 3,
) -> DataFrame:
    """All pairs with Jaccard(word-n-gram sets) >= threshold, via an
    inverted shingle index: explode → self-join on shingle → count common
    → Jaccard. Exact but worst-case quadratic; at scale prefer
    :func:`minhash_near_duplicates` and use this to verify candidates."""
    shingled = ensure_parallelism(df, id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    inv = shingled.select(id_col, "n_sh", F.explode("sh").alias("shingle"))
    a = inv.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"), "shingle")
    b = inv.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.select("id_a", "id_b", F.round(jac + F.lit(5e-10), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """All pairs with Broder CONTAINMENT ``max(|A∩B|/|A|, |A∩B|/|B|)``
    >= threshold — the asymmetric quote/partial-duplication signal
    resemblance misses: a paragraph fully embedded in a much larger
    document has low Jaccard (the union is large) but containment ~1.0
    in one direction, which is exactly what training-data curation
    needs to catch quoted boilerplate and doc-in-doc inclusion. Emits
    ``(id_a < id_b, containment_ab, containment_ba, jaccard)`` so the
    caller can distinguish "A inside B" from "B inside A".

    Same inverted-shingle-index shape (and scale caveat) as
    :func:`ngram_jaccard_pairs`: exact but worst-case quadratic — at
    scale, band with :func:`minhash_near_duplicates` first and use
    this on candidates."""
    shingled = ensure_parallelism(df, id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    inv = shingled.select(id_col, "n_sh", F.explode("sh").alias("shingle"))
    a = inv.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"), "shingle")
    b = inv.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    c = F.col("n_common").cast("double")
    out = common.select(
        "id_a", "id_b",
        F.round(c / F.col("na") + F.lit(5e-10), 6).alias("containment_ab"),
        F.round(c / F.col("nb") + F.lit(5e-10), 6).alias("containment_ba"),
        F.round(
            c / (F.col("na") + F.col("nb") - F.col("n_common")) + F.lit(5e-10), 6
        ).alias("jaccard"),
    )
    return out.filter(
        F.greatest(F.col("containment_ab"), F.col("containment_ba")) >= threshold
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join (AllPairs / PPJoin prefix filtering)
# ---------------------------------------------------------------------------

def setsim_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int | None = None,
) -> DataFrame:
    """All pairs with exact Jaccard(distinct word sets) >= ``threshold``
    via AllPairs/PPJoin prefix filtering (Bayardo et al. WWW'07, Xiao et
    al. WWW'08) — the EXACT-join counterpart to the probabilistic
    :func:`minhash_near_duplicates`: guaranteed-complete recall without
    an all-pairs comparison. Reference parity: rearview has no
    set-similarity join; this serves the north-star curation scope
    (SURVEY.md "dedup" family) where a recall *guarantee* is the point.

    Plan shape (100 TB):
      1. one explode builds the token universe; a ``groupBy(token)``
         yields global document frequency (small relative to the corpus,
         shuffled on the same key the explode output joins on);
      2. canonical order: each doc's tokens sorted rarest-first
         (df asc, token asc) so prefixes lead with rare tokens — prefix
         buckets stay small exactly where collisions would explode;
      3. probing prefix of length ``n - ceil(t_eff * n) + 1``: the
         overlap lemma (any pair with J >= t shares a token inside BOTH
         prefixes, since alpha = ceil(t/(1+t)(na+nb)) >= ceil(t*max(na,
         nb)) under the length bound J >= t itself implies) makes the
         prefix-prefix equi-join complete, not heuristic;
      4. length filter ``t_eff*na <= nb <= na/t_eff`` prunes candidates
         before the distinct;
      5. verify candidates against the full sets with
         :func:`_exact_jaccard` (JVM array_intersect/array_union).

    ``t_eff = threshold - 1e-6``: the decision predicate is the 6dp
    nudge-rounded Jaccard (cross-engine discipline of plans/_exact.py),
    so a pair whose true Jaccard sits within the rounding nudge below
    ``threshold`` can still pass verification — the prefix length and
    length filter are computed against the slackened threshold so the
    structural completeness guarantee covers those edge pairs too.

    ``shingle_n``: None compares distinct word (unigram) sets; an int n
    compares distinct word-n-gram shingle sets (:func:`word_shingles`) —
    far more discriminative on corpora with a shared vocabulary, and the
    representation the rest of the dedup family fingerprints.

    The oracle for this operator is the brute-force all-pairs inverted
    join: a value-hash match PROVES the prefix filter dropped nothing.

    Scale boundary (measured, PLANS.md round 10): candidate generation
    emits one row per SHARED PREFIX TOKEN of each colliding pair, so on
    twin-heavy corpora (k near-identical copies of each doc) the
    pre-``distinct`` candidate volume is ~prefix_len * C(k,2) per twin
    group — at the 100x synthetic corpus (10-twin groups, ~2.25M true
    pairs) that is ~360M candidate rows and the local shuffle spills
    out of disk. That duplication is inherent to prefix-join candidate
    generation (positional filtering prunes only non-qualifying pairs;
    twins all qualify). Use THIS operator when completeness is
    contractual and the duplicate rate is moderate; route twin-heavy
    corpora through :func:`minhash_near_duplicates` (capped banded
    buckets) and verify its candidates exactly.
    """
    t = float(threshold)
    t_eff = t - 1e-6
    set_col = (
        word_shingles(F.col(text_col), shingle_n)
        if shingle_n
        else F.array_distinct(tokens(F.col(text_col)))
    )
    # The tokenized corpus feeds THREE consumers (the df-count explode,
    # the canonical-order groupBy, and the verify join) and is
    # DELIBERATELY NOT materialized: an interleaved A/B at sf0.1
    # (PLANS.md round 10) measured localCheckpoint(eager) at 7.9-8.5 s
    # vs 3.1-4.5 s recomputed — serializing the corpus-sized shingle
    # arrays costs more than re-running the codegen tokenize over the
    # pruned 2-column scan. Materialization pays when the recomputed
    # subtree is expensive relative to its OUTPUT size (bigram_lm_counts:
    # vocab-sized counts from a corpus explode); a corpus-sized array
    # frame from a cheap scan is the opposite case.
    base = (
        ensure_parallelism(df, id_col)
        .select(F.col(id_col).alias("id"), F.array_sort(set_col).alias("toks"))
        .filter(F.size("toks") > 0)
    )
    inv_all = base.select("id", F.explode("toks").alias("token"))
    freq = inv_all.groupBy("token").agg(F.count("*").alias("df_count"))
    ordered = (
        inv_all.join(freq, "token")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df_count", "token"))).alias("ord"))
        .select("id", F.col("ord.token").alias("toks_ord"))
    )
    n = F.size("toks_ord")
    pref_len = (n - F.ceil(F.lit(t_eff) * n) + 1).cast("int")
    inv = ordered.select(
        "id", n.alias("n"), F.explode(F.slice("toks_ord", F.lit(1), pref_len)).alias("token")
    )
    a = inv.select(F.col("id").alias("id_a"), F.col("n").alias("na"), "token")
    b = inv.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "token")
    cand = (
        a.join(b, "token")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("na") * F.lit(t_eff) <= F.col("nb"))
            & (F.col("nb") * F.lit(t_eff) <= F.col("na"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets = base
    return (
        cand.join(
            sets.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")), "id_a"
        )
        .join(sets.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")), "id_b")
        .select(
            "id_a", "id_b",
            _exact_jaccard(F.col("ta"), F.col("tb")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = DEFAULT_SIMHASH_BITS,
) -> DataFrame:
    """``bits``-wide SimHash over tokens: bit j of the signature is 1 iff
    the sum over tokens of (+1 if bit j of hash(token) else -1) is > 0.
    Max width 60 — the md5-prefix token hash has 60 usable bits; requesting
    more would produce constant-zero high bits (degenerate chunks in the
    pigeonhole join).

    Shape: explode tokens -> one md5 per (doc, token) row -> hash-aggregate
    back to one row per doc with ``bits`` conditional sums. Same rationale
    as :func:`signature_from_shingles` — per-bit ``F.aggregate`` lambdas
    over token arrays are interpreted (higher-order functions never enter
    whole-stage codegen), while explode + conditional SUM is a codegen'd
    hash aggregate with map-side partial reduction (1.5x wall on the
    signature stage at sf0.1; the md5 per token dominates either way).
    ``explode_outer`` keeps zero-token docs (their votes are all 0 ->
    signature 0, matching the array form). The 60 vote sums and the
    signature reassembly are SQL-string expressions (one Py4J round trip
    each, not one per operator — ~5x plan-build wall at 60 bits)."""
    if bits > 60:
        raise ValueError("simhash bits > 60 exceeds the 60-bit token hash")
    df = ensure_parallelism(df, id_col)
    toked = df.select(F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("tok"))
    hashed = toked.select(id_col, _hash60(F.col("tok")).alias("h"))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN h IS NULL THEN 0"
                f" WHEN (h & {1 << j}L) != 0 THEN 1 ELSE -1 END)"
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    sig = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j}L ELSE 0L END)" for j in range(bits))
    return votes.select(F.col(id_col), F.expr(f"CAST({sig} AS BIGINT)").alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = DEFAULT_SIMHASH_BITS,
    max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    scope_caches: bool = True,
) -> DataFrame:
    """Pairs whose SimHash signatures differ in <= max_hamming bits, via
    the pigeonhole chunk join: split the signature into (max_hamming+1)
    bit chunks — any pair within the Hamming budget must agree EXACTLY on
    at least one chunk — so candidates come from an equi-join on
    (chunk_idx, chunk_value), shuffle proportional to chunk collisions
    rather than n**2, then bit_count(xor) verifies exactly. Recall is
    100% (pigeonhole is a guarantee, not a probability) — except for docs
    in a bucket past ``max_bucket_size``, which is dropped whole rather
    than allowed to go quadratic (a 60-bit signature makes chunks >=15
    bits wide, so only a pathological corpus — thousands of bitwise-equal
    chunks — ever hits the cap)."""
    sigs = simhash_signature(df, text_col, id_col, bits).cache()
    n_chunks = max_hamming + 1
    chunk_structs = []
    for c in range(n_chunks):
        lo = c * bits // n_chunks
        hi = (c + 1) * bits // n_chunks
        width = hi - lo
        val = F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit((1 << width) - 1))
        chunk_structs.append(F.struct(F.lit(c).alias("ci"), val.alias("cv")))
    chunked = sigs.select(
        F.col(id_col), F.explode(F.array(*chunk_structs)).alias("ch")
    ).select(id_col, "ch.ci", "ch.cv")
    chunked = _cap_buckets(chunked, ["ci", "cv"], max_bucket_size)

    a, b = chunked.alias("a"), chunked.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sa"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    verified = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    # Same cache-scoping pattern as minhash_near_duplicates: materialize
    # the small pair set, then drop the corpus-scale signature cache.
    # Measured sf0.1 cost of the eager materialization on this operator:
    # see PLANS.md "Cache-scoping cost" (the r05 +16% bench drift was
    # attributed here). scope_caches=False opts out for callers that
    # manage cache lifetime themselves.
    if scope_caches:
        verified = verified.localCheckpoint(eager=True)
        sigs.unpersist()
    return verified


# ---------------------------------------------------------------------------
# Duplicate groups: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Connected components of the near-dup pair graph -> one row per
    member ``(id, component)`` where component = min id in the component
    (the canonical representative a dedup pass keeps).

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels — converges in O(graph
    diameter) rounds (dup clusters are shallow; a handful of rounds in
    practice, bounded by ``max_iter``). Each round is one shuffle-join +
    one aggregate. Label state is 16 bytes/node — billions of nodes fit
    a modest cluster; this is the scalable alternative to collecting the
    pair graph to the driver. Stopping at ``max_iter`` before a round
    confirms the fixed point warns: labels may still be moving."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    # Convergence test: min-propagation only ever DECREASES labels, so the
    # exact sum of labels is strictly monotone until the fixpoint — equal
    # sums mean no label moved. decimal(38) keeps the sum exact at any
    # node count. Every sum (and the node count gating the per-round
    # broadcast of the O(nodes) label frame into the edge join — see
    # _util.bcast_state) is observed by the job that fills the label
    # checkpoint, so a round costs no job beyond its propagation.
    label_sum = F.sum(F.col("comp").cast("decimal(38,0)"))
    labels, obs = _observed_checkpoint(
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("comp")),
        s=label_sum,
        n=F.count(F.lit(1)),
    )
    n_nodes = obs["n"]

    def step(labels: DataFrame, _) -> DataFrame:
        lb = _bcast_state(labels, n_nodes)
        neighbor_min = (
            edges.join(lb, edges.dst == lb.id)
            .select(F.col("src").alias("id"), "comp")
        )
        return (
            labels.unionByName(neighbor_min)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )

    labels = fixed_point(
        labels,
        step,
        max_iter,
        obs=obs,
        converge_on="s",
        op="connected_components",
        cap_name="max_iter",
        s=label_sum,
    )
    return labels.select(F.col("id"), F.col("comp").alias("component"))


def duplicate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH pairs -> connected components -> per-group summary
    (component id = canonical doc to keep, group size, member span)."""
    pairs = minhash_near_duplicates(df, text_col, id_col, threshold)
    cc = connected_components(pairs)
    return (
        cc.groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .withColumn("canonical_is_min", F.col("component") == F.col("min_id"))
    )


def canonical_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    threshold: float = 0.5,
) -> DataFrame:
    """Quality-aware canonical selection — the per-document KEEP/DROP
    decision a dedup pass actually ships: MinHash-LSH pairs ->
    connected components -> within each duplicate cluster keep the
    highest-``quality_col`` member (ties toward the smallest id), drop
    the rest. Singletons (no near-dup) are their own canonical. This is
    the "keep best, not first" refinement of :func:`duplicate_groups`
    (which reports min-id canonicals): real pipelines rank cluster
    members by a quality signal so the surviving copy is the cleanest
    one, not the one with the luckiest id.

    Scale shape: components come from the iterative min-label
    propagation (pairs-sized, checkpointed); everything after is two
    component-keyed hash shuffles — a max(struct(quality, -id))
    aggregate (map-side combined, deterministic argmax under any
    partitioning) and the join assigning each member its cluster's
    canonical. No windows, no per-cluster sorts."""
    pairs = minhash_near_duplicates(df, text_col, id_col, threshold).select(
        "id_a", "id_b"
    )
    cc = connected_components(pairs)
    docs = df.select(F.col(id_col), F.col(quality_col))
    allc = (
        docs.join(cc, docs[id_col] == cc["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
            F.col(quality_col),
        )
    )
    best = (
        allc.groupBy("component")
        .agg(
            F.max(
                F.struct(F.col(quality_col), (-F.col(id_col)).alias("_ni"))
            ).alias("_b")
        )
        .select("component", (-F.col("_b._ni")).alias("canonical_id"))
    )
    return allc.join(best, "component").select(
        F.col(id_col),
        "component",
        "canonical_id",
        (F.col(id_col) == F.col("canonical_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Substring-level exact dedup: duplicated-span detection + excision
# ---------------------------------------------------------------------------
#
# The document-level operators above drop or group WHOLE near-duplicate
# documents; training corpora also carry verbatim substrings repeated
# across otherwise-distinct documents (licenses, navigation boilerplate,
# quoted passages) — "Deduplicating Training Data Makes Language Models
# Better" (Lee et al., arXiv:2107.06499) removes exact duplicated
# substrings above a token threshold with a suffix array. A suffix array
# is a single-machine structure; the equivalent distributed formulation
# used here: a substring of >= min_tokens duplicated tokens necessarily
# duplicates every one of its w-token windows, so positional w-gram
# fingerprints + island-merging of duplicated window positions recover
# maximal duplicated spans (window granularity: span boundaries are
# accurate to the token, but a duplicated run shorter than w is
# invisible — choose w <= min_tokens, w = min_tokens/2 typical).


def positional_ngrams(
    df: DataFrame,
    window: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per w-token window: ``(id, pos, h)`` with ``pos`` the
    0-based token offset and ``h`` the 60-bit fingerprint of the
    window's text (the same md5-over-:func:`_ngram_fold` scheme as
    :func:`word_shingles`, so equal windows fingerprint equal across
    operators). Docs shorter than ``window`` contribute no rows —
    whole-document duplication is :func:`exact_duplicates`' job."""
    toks = tokens(F.col(text_col))
    grams = df.filter(F.size(toks) >= window).select(
        F.col(id_col), F.posexplode(_ngram_fold(toks, window)).alias("pos", "_g")
    )
    return grams.select(id_col, "pos", _hash60(F.col("_g")).alias("h"))


def duplicated_spans(
    df: DataFrame,
    window: int = 8,
    min_tokens: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated spans per document: contiguous token ranges
    every one of whose w-windows occurs in >= ``min_docs`` distinct
    documents, merged and filtered to >= ``min_tokens`` tokens. Returns
    ``(id, span_start, span_end, span_tokens, span_md5)`` — start
    inclusive, end exclusive, 0-based token offsets; ``span_md5``
    fingerprints the span TEXT, so equal spans in different docs carry
    equal fingerprints (what :func:`excise_duplicated_spans` groups on).

    Scale shape (r16 optimization, guide §2.3/§2.4): ONE scan explodes
    positional fingerprints (the expensive tokenize+md5 pass — the
    pre-r16 plan ran it twice, once for the duplicated-hash set and
    once for the join back to positions), then a single Exchange on the
    hash sorts each h-run and two window functions over it decide
    >= min_docs distinct docs in place (dense_rank ceiling — exact
    distinct count without a second aggregation pass or the join back);
    island-merging is two window functions over (id, pos) — one
    Exchange on the doc id, state per row is one running max. Nothing
    is ever pairwise: cost is linear in total duplicated POSITIONS, not
    quadratic in documents sharing a span (the property that makes this
    formulation survive boilerplate shared by millions of docs, where
    the pairwise operators above must cap or drop). A planet-scale
    boilerplate hash lands its positions in one window partition —
    still a LINEAR single-task scan (min/max state), the same ceiling
    the pre-r16 join-back shape hit on its h-keyed shuffle side.

    The input is spread across the cluster first (ensure_parallelism):
    a dimension-table-sized parquet arrives as ONE partition and the
    gram explode+md5 — the dominant cost — would otherwise run
    single-threaded (no-op at real scale)."""
    from rearview_spark.operators._util import ensure_parallelism

    grams = positional_ngrams(
        ensure_parallelism(df, id_col), window, text_col, id_col
    )
    wh = Window.partitionBy("h")
    # distinct-doc count per hash, in-place: dense_rank over (h | id)
    # peaks at the number of distinct ids in the h-run; max over the
    # run broadcasts that count to every row. One Exchange + one sort,
    # zero joins, the gram pass runs ONCE.
    n_docs = F.max(
        F.dense_rank().over(wh.orderBy(F.col(id_col)))
    ).over(wh)
    dup_pos = (
        grams.withColumn("_nd", n_docs)
        .filter(F.col("_nd") >= min_docs)
        .select(id_col, "pos")
    )

    wo = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + window).over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    # a window starting at or before the running end extends the island;
    # strictly beyond it starts a new one (end is exclusive, so == is
    # adjacency of two back-to-back duplicated runs — merged)
    flagged = dup_pos.withColumn(
        "_new", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).withColumn("_island", F.sum("_new").over(wo))
    spans = (
        flagged.groupBy(id_col, "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(window)).alias("span_end"),
        )
        .withColumn("span_tokens", F.col("span_end") - F.col("span_start"))
        .filter(F.col("span_tokens") >= min_tokens)
        .drop("_island")
    )
    toks = tokens(F.col(text_col))
    with_text = spans.join(df.select(id_col, text_col), id_col)
    span_text = F.concat_ws(
        " ", F.slice(toks, F.col("span_start") + 1, F.col("span_tokens"))
    )
    return with_text.select(
        id_col,
        "span_start",
        "span_end",
        "span_tokens",
        F.md5(span_text).alias("span_md5"),
    )


def excise_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    keep_first: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite each document's text with its duplicated spans removed
    (tokens outside every span, re-joined with single spaces — the
    normalized-text domain all dedup operators share). With
    ``keep_first`` (Lee et al.'s policy), the single occurrence with
    the smallest (doc_id, span_start) among equal ``span_md5`` groups
    is preserved; otherwise every occurrence is excised.

    Adds ``n_tokens_removed``. Docs with no spans pass through with
    their normalized text and 0 removed. The span list per doc is
    collected into an array column (spans per doc are few — bounded by
    text length / min_tokens) and the rewrite is one higher-order
    filter over the token array: per-doc work, no extra shuffle beyond
    the (id)-keyed join."""
    if keep_first:
        first = Window.partitionBy("span_md5").orderBy(id_col, "span_start")
        spans = (
            spans.withColumn("_rk", F.row_number().over(first))
            .filter(F.col("_rk") > 1)
            .drop("_rk")
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    out = df.join(per_doc, id_col, "left")
    toks = tokens(F.col(text_col))
    no_spans = F.col("_spans").isNull()
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_spans"),
            lambda s: (s["span_start"] <= i) & (i < s["span_end"]),
        ),
    )
    cleaned = F.when(no_spans, F.concat_ws(" ", toks)).otherwise(
        F.concat_ws(" ", kept)
    )
    removed = F.when(no_spans, F.lit(0)).otherwise(F.size(toks) - F.size(kept))
    keep_cols = [c for c in df.columns if c != text_col]
    return out.select(
        *keep_cols, cleaned.alias(text_col), removed.alias("n_tokens_removed")
    )


def dedup_savings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chars_col: str = "n_chars",
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup ROI summary — the one-row answer to "what does running
    this dedup pass actually buy": MinHash-LSH near-dup pairs ->
    connected components -> per-group keep-the-largest decision ->
    corpus-level bytes-removed accounting. The planning read taken
    BEFORE committing a full rewrite pass at scale (a <1% saving does
    not pay for a 100 TB shuffle).

    Keep rule here is max-``chars_col`` per group (the ROI bound —
    :func:`canonical_docs` implements the quality-aware keep for the
    actual rewrite); removed chars = group total minus kept. All
    counts/sums exact int64; ``frac_removed`` is ONE division of exact
    integers.

    Scale shape: reuses the banded minhash pair machinery (never
    all-pairs) and the iterative min-label components; everything
    after is a component-domain aggregate + a one-row corpus
    aggregate. Returns one row ``(n_docs, chars_total, n_dup_groups,
    n_dup_members, chars_removed, frac_removed)`` — zeros (not NULLs)
    when no duplicates exist.
    """
    pairs = minhash_near_duplicates(df, text_col, id_col, threshold)
    cc = connected_components(pairs)
    chars = df.select(
        F.col(id_col).alias("id"), F.col(chars_col).alias("_ch")
    )
    per_comp = (
        cc.join(chars, "id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_ch").alias("tot"),
            F.max("_ch").alias("keep_ch"),
        )
    )
    dup_agg = per_comp.agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_groups"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_dup_members"),
        F.coalesce(F.sum(F.col("tot") - F.col("keep_ch")), F.lit(0))
        .cast("long")
        .alias("chars_removed"),
    )
    corpus = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col(chars_col)).cast("long").alias("chars_total"),
    )
    return corpus.crossJoin(F.broadcast(dup_agg)).select(
        "n_docs",
        "chars_total",
        "n_dup_groups",
        "n_dup_members",
        "chars_removed",
        (
            F.col("chars_removed").cast("double")
            / F.col("chars_total").cast("double")
        ).alias("frac_removed"),
    )


def minhash_estimate_error(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    scale: int = 10**6,
) -> DataFrame:
    """Sketch-fidelity audit for the MinHash pipeline: over every LSH
    CANDIDATE pair, compare the signature-based Jaccard ESTIMATE
    (matching positions / num_hashes) against the exact Jaccard the
    verification stage computes anyway, and summarize the absolute
    error — the measurement that justifies (or indicts) the signature
    width before a 100 TB dedup run trusts its banding recall
    (tools/ann_recall.py is the ANN sibling of this audit; this one is
    gate-checkable because every quantity is engine-exact).

    Determinism: match count ``m``, intersection ``i`` and union ``u``
    are exact integers, so each pair's error is ONE division of exact
    operands — ``|m·u − i·K| / (K·u)``; the mean aggregates
    1/``scale``-quantized int64 units (order-immune), and
    p50/p90/max are element picks / comparisons of those exact-ratio
    doubles. No rounding contract anywhere else.

    Scale shape: identical to minhash_near_duplicates (one signature
    pass, banded candidates — never all-pairs, pair-scale verification)
    plus one K-element zip per pair; the same cache-scoping discipline
    (errors materialize pair-scale, the corpus-scale signature cache
    releases before return).

    Cost warning (the PLANS.md decade table's 100× finding, carried
    into the contract): cost tracks CANDIDATE PAIRS under the bucket
    caps, never docs² — but an adversarial corpus whose near-twin
    groups grow with replication (every copy banding into the same
    buckets) multiplies pairs super-linearly with corpus size (136×
    observed at a 100× worst-case replica). That is inherent to
    auditing every candidate pair; on such corpora keep
    ``max_bucket_size`` tight or audit a doc-hash sample, and budget
    this as an audit run, not a per-ingest stage.

    Returns one row ``(n_pairs, mean_abs_err, p50_abs_err, p90_abs_err,
    max_abs_err)``; the error columns are NULL when no candidate pairs
    exist.
    """
    df = ensure_parallelism(df, id_col)
    shingled = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    )
    sigs = signature_from_shingles(
        shingled, id_col, num_hashes, with_hash_set=True
    ).cache()
    cands = lsh_candidate_pairs(
        sigs.select(id_col, "sig"), id_col, num_hashes, bands, max_bucket_size
    )
    a = sigs.select(
        F.col(id_col).alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.col("shs").alias("sh_a"),
    )
    b = sigs.select(
        F.col(id_col).alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.col("shs").alias("sh_b"),
    )
    joined = cands.join(a, "id_a").join(b, "id_b")
    m = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), "
        "0, (acc, v) -> acc + v)"
    )
    i = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    u = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    err = F.abs(m.cast("long") * u - i * F.lit(num_hashes)).cast("double") / (
        F.lit(num_hashes) * u
    ).cast("double")
    errs = joined.select(err.alias("err")).localCheckpoint(eager=True)
    sigs.unpersist()
    agg = errs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.round(F.col("err") * F.lit(float(scale))).cast("long")).alias(
            "_units"
        ),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY err)").alias(
            "p50_abs_err"
        ),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY err)").alias(
            "p90_abs_err"
        ),
        F.max("err").alias("max_abs_err"),
    )
    return agg.select(
        "n_pairs",
        (
            F.col("_units").cast("double")
            / F.col("n_pairs").cast("double")
            / F.lit(float(scale))
        ).alias("mean_abs_err"),
        "p50_abs_err",
        "p90_abs_err",
        "max_abs_err",
    )
