"""Tests for dedup / text / similarity / multimodal operators on synthetic
docs with known duplicates (the driver's documents table has none)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rearview_spark.operators import dedup as D
from rearview_spark.operators import multimodal as M
from rearview_spark.operators import similarity as S
from rearview_spark.operators import text as X

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The quick  brown fox jumps over the lazy dog"),  # exact dup after normalize
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup
    (4, "completely different content about spark engines and data"),
    (5, "the quick brown fox jumps over the lazy dog today"),  # near dup
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    groups = D.exact_duplicates(docs).collect()
    sizes = sorted(g["group_size"] for g in groups)
    assert sizes == [1, 1, 1, 2]
    dup = [g for g in groups if g["group_size"] == 2][0]
    assert dup["canonical_id"] == 1
    assert D.drop_exact_duplicates(docs).count() == 4


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical after normalize
    assert (1, 5) in pairs  # prefix overlap
    assert (1, 4) not in pairs


def test_minhash_lsh_recovers_exact_dup(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in D.minhash_near_duplicates(docs, threshold=0.9).collect()}
    assert (1, 2) in pairs


def test_minhash_lsh_builds_signatures_once(docs, count_jobs):
    """The signatures the banded self-join and both verify sides scan
    are filled by one checkpoint (a cache is built once per scan), and
    released before return."""
    sc = docs.sparkSession.sparkContext

    def persistent():
        return set(sc._jsc.getPersistentRDDs().keySet())

    before = persistent()
    out, jobs = count_jobs(lambda: D.minhash_near_duplicates(docs, threshold=0.9))
    assert jobs == 10
    # the result's blocks are the only ones the call leaves behind
    assert persistent() - before == {out._jdf.queryExecution().analyzed().rdd().id()}


def test_setsim_prefix_matches_brute_force(spark):
    """Completeness of the AllPairs/PPJoin prefix filter: the prefix-
    filtered join must equal the brute-force all-pairs result on every
    (pair, jaccard) — the filter may only prune, never drop."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(3, 25))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.6, 0.9):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.setsim_prefix_pairs(df, threshold=t).collect()
        }
        base = df.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")).alias("s"),
        )
        a = base.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
        b = base.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
        jac = F.round(
            F.size(F.array_intersect("sa", "sb")).cast("double")
            / F.size(F.array_union("sa", "sb"))
            + F.lit(5e-10),
            6,
        )
        want = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= t)
            .collect()
        }
        assert got == want, f"t={t}: prefix filter diverged from brute force"


def test_setsim_prefix_shingle_mode_and_short_docs(docs):
    # shingle mode finds the normalized exact dup at jaccard 1.0
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.setsim_prefix_pairs(docs, threshold=0.5, shingle_n=3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) not in pairs
    # docs shorter than the shingle width fall back to full-text shingles
    # (word_shingles contract) and must not crash the prefix arithmetic
    short = docs.sparkSession.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "three")], "doc_id long, text string"
    )
    out = {
        (r["id_a"], r["id_b"]) for r in D.setsim_prefix_pairs(short, threshold=0.9, shingle_n=3).collect()
    }
    assert out == {(1, 2)}


def test_simhash_close_for_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_near_duplicates(docs, max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0  # identical text -> identical signature
    assert pairs[(1, 3)] <= pairs.get((1, 4), 16)  # near dup closer than unrelated


def test_simhash_signature_matches_python_reference(spark):
    """Signature VALUES pinned bit-for-bit against an independent pure-
    Python replica of the spec (normalize -> whitespace tokens -> md5
    60-bit prefix -> per-bit +/-1 votes -> sign bits). Inheriting test
    for the retired dedup_simhash gate (r16): dedup_simhash_pairs keeps
    the identical signature CTE oracle-gated, and this pins the raw
    signature artifact by hand."""
    import hashlib
    import re as _re

    def ref_sig(text, bits=60):
        toks = _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        votes = [0] * bits
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for j in range(bits):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(bits) if votes[j] > 0)

    texts = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "  The   QUICK brown\tfox  "),
        (3, "completely different words entirely"),
        (4, "x"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in D.simhash_signature(df).collect()}
    assert got == {i: ref_sig(t) for i, t in texts}


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """VERDICT r01 #3: a corpus of identical docs lands in ONE LSH bucket
    — uncapped that's n²/2 candidate pairs. The cap drops oversized
    buckets whole, so the pipelines complete with zero candidates instead
    of going quadratic (exact-dedup is the right tool for such docs)."""
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("all these documents share this exact same text").alias("text"),
    )
    assert D.simhash_near_duplicates(df, max_hamming=1).count() == 0
    sigs = D.signature_from_shingles(
        df.select("doc_id", D.word_shingles(F.col("text")).alias("sh"))
    )
    assert D.lsh_candidate_pairs(sigs).count() == 0

    # cap semantics are exact: below/above the bound flips whole buckets
    small = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("same text here").alias("text")
    )
    assert D.simhash_near_duplicates(small, max_hamming=1, max_bucket_size=10).count() == 0
    assert (
        D.simhash_near_duplicates(small, max_hamming=1, max_bucket_size=None).count()
        == 50 * 49 // 2
    )


def test_embedding_lsh_bucket_cap(spark):
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = S.embedding_near_duplicates(emb, threshold=0.9, planes=8, bands=2,
                                         dim=4, max_bucket_size=10)
    assert capped.count() == 0
    full = S.embedding_near_duplicates(emb, threshold=0.9, planes=8, bands=2,
                                       dim=4, max_bucket_size=None)
    assert full.count() == 30 * 29 // 2


def test_text_features(spark):
    df = spark.createDataFrame([(1, "The cat and the dog!")], "doc_id long, text string")
    row = X.with_text_features(df).collect()[0]
    assert row["n_tokens"] == 5
    assert row["n_bpe_tokens"] == 6  # the, cat, and, the, dog, !
    assert row["stop_ratio"] == pytest.approx(3 / 5, abs=1e-6)
    assert row["punct_ratio"] == pytest.approx(1 / 20, abs=1e-6)
    assert row["lang_pred"] == "en"
    assert len(row["fp_md5"]) == 32


def test_lang_id_unk(spark):
    df = spark.createDataFrame([(1, "zzz qqq xxx yyy www")], "doc_id long, text string")
    assert X.with_text_features(df).collect()[0]["lang_pred"] == "unk"


def test_rolling_fingerprint_stable_under_suffix_edit(spark):
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "totally other words here now")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", X.rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    # appending a word usually keeps the min-shingle-hash; disjoint text differs
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_cosine_and_brute_force_topk(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.7, 0.7, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = S.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2)
    rows = {r["rank"]: r for r in out.collect()}
    assert rows[1]["vec_id"] == 1 and rows[1]["cosine_sim"] == pytest.approx(1.0, abs=1e-5)
    assert rows[2]["vec_id"] == 3


def test_ivf_matches_brute_force_on_probed_buckets(spark, sf_dir):
    from rearview_spark.sources.loader import Tables

    emb = Tables(spark, sf_dir).embeddings
    q = emb.filter(F.col("vec_id") == 0)
    bf = {r["vec_id"] for r in S.brute_force_topk(emb, q, k=5).collect()}
    ivf = {r["vec_id"] for r in S.ivf_topk(emb, q, k=5, nprobe=10).collect()}
    # probing all 10 buckets == exact
    assert ivf == bf


def _png_bytes(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x06\x00\x00\x00" + b"\x00" * 4
    )


def _wav_bytes(sample_rate: int, data_size: int) -> bytes:
    byte_rate = sample_rate * 2
    return (
        b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + data_size.to_bytes(4, "little")
    )


def _jpeg_bytes(w: int, h: int) -> bytes:
    # SOI + APP0 stub + SOF0 frame header
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x01\x11"
    )
    return b"\xff\xd8\xff" + app0[1:] + sof0


def test_decode_header_parses_real_containers():
    assert M.decode_header(_png_bytes(640, 480)) == {
        "mime": "image/png", "width": 640, "height": 480, "duration_ms": None,
    }
    assert M.decode_header(b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"xx") == {
        "mime": "image/gif", "width": 320, "height": 200, "duration_ms": None,
    }
    assert M.decode_header(_jpeg_bytes(800, 600)) == {
        "mime": "image/jpeg", "width": 800, "height": 600, "duration_ms": None,
    }
    # 32000 B/s byte rate, 64000 data bytes -> exactly 2000 ms
    assert M.decode_header(_wav_bytes(16000, 64000))["duration_ms"] == 2000
    for corrupt in (b"plain bytes here", b"\x89PNG\r\n\x1a\nXXXXJUNK----------", None):
        with pytest.raises(ValueError):
            M.decode_header(corrupt)


def test_media_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(_png_bytes(1024, 768))), (2, bytearray(b"plain bytes"))],
        "media_id long, payload binary",
    )
    meta = {r["media_id"]: r["meta"] for r in M.with_media_meta(df).collect()}
    assert meta[1]["mime"] == "image/png"
    assert meta[2]["mime"] == "application/octet-stream"
    assert meta[1]["n_bytes"] == 33

    feats = {r["media_id"]: r for r in M.extract_media_features(df).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (1024, 768)
    assert feats[2]["width"] is None and feats[2]["mime"] is None  # corrupt -> typed nulls
    assert len(feats[1]["feat"]) == 8
    assert sum(feats[1]["feat"]) == pytest.approx(1.0)


def test_synthesized_payloads_decode_to_formula_values(spark):
    """The synthesizer emits real container bytes; the decoder must
    recover exactly the closed-form fields the oracle predicts."""
    docs = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(9)], "doc_id long, text string"
    )
    media = M.synthesize_media_payloads(docs)
    feats = {r["media_id"]: r for r in M.extract_media_features(media).collect()}
    for i in range(9):
        kind = i % 3
        if kind == 0:
            assert feats[i]["mime"] == "image/png"
            assert feats[i]["width"] == 16 + i % 2000
            assert feats[i]["height"] == 16 + (i * 7) % 1000
            assert feats[i]["n_bytes"] == 49
        elif kind == 1:
            assert feats[i]["mime"] == "audio/wav"
            expected = ((i % 1000) * 2 + 2000) * 1000 // ((i % 5 + 1) * 16000)
            assert feats[i]["duration_ms"] == expected
            assert feats[i]["n_bytes"] == 60
        else:
            assert feats[i]["mime"] == "image/gif"
            assert feats[i]["width"] == 16 + i % 2000
            assert feats[i]["n_bytes"] == 26


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"x"))], "media_id long, payload binary"
    )
    media = M.with_media_meta(df).withColumn(
        "meta", F.col("meta").withField("duration_ms", F.lit(3500).cast("long"))
    )
    frames = M.frame_sample_plan(media, every_ms=1000).collect()
    assert [r["frame_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_connected_components_merges_chains(spark):
    """a-b, b-c, plus isolated pair d-e: two components keyed by min id;
    chain merging needs >1 propagation round."""
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (8, 9), (3, 4)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["component"])
        for r in D.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (8, 8), (9, 8)}


def test_resize_and_audio_chunks(spark):
    """Resize preserves aspect ratio within max_dim; audio chunking tiles
    the duration with a trimmed final chunk."""
    from rearview_spark.operators import multimodal as M

    media = M.text_to_media(
        spark.createDataFrame([(1, "x" * 100), (2, "y" * 5000)], "doc_id long, text string")
    ).withColumn(
        "meta", F.struct(
            F.col("meta.mime"), F.col("meta.width"), F.col("meta.height"),
            F.col("meta.n_bytes"), F.lit(65_000).cast("long").alias("duration_ms"),
        )
    )
    imgs = spark.createDataFrame(
        [(1, bytearray(_png_bytes(1000, 500))), (2, bytearray(_png_bytes(64, 32)))],
        "media_id long, payload binary",
    )
    resized = {r["media_id"]: r for r in M.resize_images(imgs, max_dim=128).collect()}
    assert (resized[1]["width"], resized[1]["height"]) == (128, 64)
    assert (resized[2]["width"], resized[2]["height"]) == (64, 32)  # already fits
    # re-encode is real: the output payload re-parses with the NEW dims,
    # and the raster body shrank by the integer area ratio (ceil)
    rehdr = M.decode_header(bytes(resized[1]["payload"]))
    assert (rehdr["width"], rehdr["height"]) == (128, 64)
    body_in = len(_png_bytes(1000, 500)) - 33
    keep = -(-body_in * 128 * 128 // (1000 * 1000))
    assert len(bytes(resized[1]["payload"])) == 33 + keep
    assert bytes(resized[2]["payload"]) == _png_bytes(64, 32)  # no-op passthrough
    # JPEG: dims patched at the SOF offset, body untouched
    jp = spark.createDataFrame(
        [(3, bytearray(_jpeg_bytes(800, 600)))], "media_id long, payload binary"
    )
    rj = M.resize_images(jp, max_dim=200).collect()[0]
    assert (rj["width"], rj["height"]) == (200, 150)
    jhdr = M.decode_header(bytes(rj["payload"]))
    assert (jhdr["width"], jhdr["height"]) == (200, 150)
    assert len(bytes(rj["payload"])) == len(_jpeg_bytes(800, 600))
    chunks = M.audio_chunk_plan(media, chunk_ms=30_000).filter(F.col("media_id") == 1).collect()
    assert [(c["chunk_idx"], c["start_ms"], c["end_ms"]) for c in sorted(chunks, key=lambda c: c["chunk_idx"])] == [
        (0, 0, 30000), (1, 30000, 60000), (2, 60000, 65000),
    ]


def test_kmeans_ivf_recall_vs_brute_force(spark, sf_dir):
    """k-means IVF with generous nprobe recovers most of the exact top-5
    (approximate by design; recall, not equality, is the contract)."""
    from rearview_spark.operators import similarity as S
    from rearview_spark.sources.loader import Tables

    emb = Tables(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in S.ivf_kmeans_topk(emb, queries, k=5, n_buckets=8, nprobe=4, iters=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall {recall}"


def test_kmeans_fit_deterministic(spark, sf_dir):
    from rearview_spark.operators import similarity as S
    from rearview_spark.sources.loader import Tables

    emb = Tables(spark, sf_dir).embeddings
    c1 = {r["bucket"]: r["centroid"] for r in S.kmeans_fit(emb, k=4, iters=2).collect()}
    c2 = {r["bucket"]: r["centroid"] for r in S.kmeans_fit(emb, k=4, iters=2).collect()}
    assert c1 == c2


def test_pq_codes_compact_and_deterministic(spark, sf_dir):
    from rearview_spark.sources.loader import load_table
    from rearview_spark.operators.similarity import pq_fit, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    cb1 = pq_fit(emb, m=4, k=16, iters=2)
    cb2 = pq_fit(emb, m=4, k=16, iters=2)
    assert cb1.count() == 64  # 4 subspaces x 16 codes
    # deterministic fit: identical codebooks row for row
    assert cb1.exceptAll(cb2).count() == 0
    codes = pq_encode(emb, cb1, m=4)
    n = emb.count()
    assert codes.count() == n * 4
    rng = codes.agg(F.min("code"), F.max("code")).collect()[0]
    assert rng[0] >= 0 and rng[1] <= 15


def _pq_lloyd_replay(vecs: dict, m: int, k: int, iters: int) -> tuple[dict, int]:
    """NumPy replay of pq_fit's contract: per subspace, seed with the k
    smallest ids' subvectors, assign each vector to the nearest centroid
    (squared L2 folded left to right, ties to the smallest code), move
    each centroid to its members' mean and leave a memberless one where
    it was. Returns ``({(s, code): centroid}, empty clusters seen)``."""
    import numpy as np

    ids = sorted(vecs)
    sub = len(vecs[ids[0]]) // m
    out, empty = {}, 0
    for s in range(m):
        x = np.array([vecs[i][s * sub:(s + 1) * sub] for i in ids], dtype=float)
        c = x[:k].copy()
        for _ in range(iters):
            d = np.zeros((len(ids), k))
            for j in range(sub):
                diff = x[:, j:j + 1] - c[None, :, j]
                d = d + diff * diff
            a = d.argmin(axis=1)
            for code in range(k):
                members = x[a == code]
                if len(members):
                    c[code] = members.sum(axis=0) / len(members)
                else:
                    empty += 1
        out.update({(s, code): c[code].tolist() for code in range(k)})
    return out, empty


def test_pq_fit_round_cost_and_lloyd_replay(spark, count_jobs, tmp_path):
    """One Lloyd round is two jobs (the (s, code) update's map side and
    its collect; the assignment is a projection over the codebook
    literal) over a one-file corpus, as the embeddings table arrives,
    and the codebook is the NumPy replay's bit for bit. Vectors 0 and 1
    are equal, so code 1 ties with code 0, loses, and starts out with
    no members."""
    from rearview_spark.operators.similarity import pq_fit

    vecs = {i: [float((i * (j + 3) + j * j) % 11) for j in range(8)] for i in range(2, 14)}
    vecs[0] = vecs[1] = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    ).coalesce(1).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    jobs = {}
    for iters in (1, 2):
        cb, jobs[iters] = count_jobs(
            lambda: pq_fit(corpus, m=2, k=4, iters=iters, dim=8)
        )
    assert jobs[2] - jobs[1] == 2
    want, empty = _pq_lloyd_replay(vecs, m=2, k=4, iters=2)
    assert empty > 0
    assert {(r["s"], r["code"]): list(r["centroid"]) for r in cb.collect()} == want


def _pq_corpus(spark):
    vecs = [(i, [float((i * (j + 5) + j) % 9) for j in range(8)]) for i in range(24)]
    return vecs, spark.createDataFrame(vecs, "vec_id long, embedding array<double>")


def test_pq_codebook_collects_without_a_job(spark, count_jobs):
    """pq_fit keeps its codebook on the driver and returns it as a
    LocalRelation: collecting it launches no job, and its schema is
    (s int, code int, centroid array<double>)."""
    from rearview_spark.operators.similarity import pq_fit

    _, corpus = _pq_corpus(spark)
    cb = pq_fit(corpus, m=2, k=4, iters=2, dim=8)
    rows, jobs = count_jobs(cb.collect)
    assert jobs == 0
    assert len(rows) == 8
    assert cb.schema.simpleString() == "struct<s:int,code:int,centroid:array<double>>"


def test_pq_encode_is_a_projection(spark):
    """pq_encode folds the codebook into the plan as a literal: its plan
    has no join and no aggregate, and each code is the nearest centroid
    of its subspace by squared L2 (ties to the smaller code)."""
    from rearview_spark.operators.similarity import pq_encode, pq_fit

    vecs, corpus = _pq_corpus(spark)
    cb = pq_fit(corpus, m=2, k=4, iters=1, dim=8)
    codes = pq_encode(corpus, cb, m=2, dim=8)
    plan = codes._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan
    cents = {(r["s"], r["code"]): r["centroid"] for r in cb.collect()}

    def nearest(v, s):
        sv = v[s * 4:(s + 1) * 4]
        return min(
            range(4),
            key=lambda c: (sum((x - y) * (x - y) for x, y in zip(sv, cents[s, c])), c),
        )

    got = {(r["vec_id"], r["s"]): r["code"] for r in codes.collect()}
    assert got == {(i, s): nearest(v, s) for i, v in vecs for s in range(2)}


def test_kmeans_codebook_collects_without_a_job(spark, count_jobs):
    """kmeans_fit's codebook is a LocalRelation: assign_buckets' collect
    of it launches no job."""
    from rearview_spark.operators.similarity import kmeans_fit

    _, corpus = _pq_corpus(spark)
    cb = kmeans_fit(corpus, k=3, iters=1)
    rows, jobs = count_jobs(cb.collect)
    assert jobs == 0 and sorted(r["bucket"] for r in rows) == [0, 1, 2]


def test_pq_topk_recall_vs_brute_force(spark, sf_dir):
    from rearview_spark.sources.loader import load_table
    from rearview_spark.operators.similarity import brute_force_topk, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    # cosine brute-force as ground truth: PQ approximates L2, so the
    # overlap bound is loose — it guards against collapse, not parity
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in pq_topk(emb, queries, topk=10).collect()
    }
    # 16x compression is lossy; expect meaningful-but-imperfect overlap
    overlap = len(exact & approx) / len(exact)
    assert overlap >= 0.2, f"PQ recall vs brute force collapsed: {overlap}"
    # ranks are 1..10 per query, ascending distance
    rows = pq_topk(emb, queries, topk=10).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["approx_dist"]))
    for q, rr in by_q.items():
        rr.sort()
        assert [x[0] for x in rr] == list(range(1, 11))
        dists = [x[1] for x in rr]
        assert dists == sorted(dists)


def test_ivf_pq_subset_of_pq_within_probed_buckets(spark, sf_dir):
    """IVF+PQ distances must equal plain-PQ ADC distances for any
    (query, vec) pair that survives bucket pruning — the router prunes,
    it must not change scores."""
    from rearview_spark.sources.loader import load_table
    from rearview_spark.operators.similarity import ivf_pq_topk, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    full = {
        (r["query_id"], r["vec_id"]): r["approx_dist"]
        for r in pq_topk(emb, queries, topk=10**9).collect()
    }
    pruned = ivf_pq_topk(emb, queries, topk=10).collect()
    assert len(pruned) == 50
    for r in pruned:
        assert full[(r["query_id"], r["vec_id"])] == r["approx_dist"]


def test_residual_pq_recall_at_equal_bytes(spark, sf_dir):
    """IVFADC's point: quantizing residuals (vector - router centroid)
    spends the same m*k code budget on within-bucket detail, so recall
    vs brute-force ground truth must be >= raw-vector IVF+PQ with the
    identical parameters (measured 0.325 vs 0.27 on this data)."""
    from rearview_spark.sources.loader import load_table
    from rearview_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        ivf_rpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    params = dict(topk=10, n_buckets=8, nprobe=2, router_iters=2,
                  m=4, k_codes=16, pq_iters=2)

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    truth = by_query(brute_force_topk(emb, queries, k=10).collect())
    raw = by_query(ivf_pq_topk(emb, queries, **params).collect())
    res = by_query(ivf_rpq_topk(emb, queries, **params).collect())
    denom = sum(len(t) for t in truth.values())
    recall_raw = sum(len(raw.get(q, set()) & t) for q, t in truth.items()) / denom
    recall_res = sum(len(res.get(q, set()) & t) for q, t in truth.items()) / denom
    assert recall_res >= recall_raw, (recall_res, recall_raw)
    assert recall_res >= 0.2  # collapse guard


def test_bpe_train_greedy_merge_and_tiebreaks(spark):
    """aaab x3 + ab: round 1 merges (a,a) greedily left-to-right (aaab ->
    [aa, a, b], so pair (a,a) counts once per word); deterministic
    (cnt DESC, l, r) tie-breaks pick (a,a) over (a,b) at equal counts."""
    docs = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "aaab ab")], "doc_id long, text string"
    )
    merges = X.bpe_train(docs, n_merges=3).collect()
    got = [(r["merge_rank"], r["left"], r["right"], r["merged"], r["pair_count"]) for r in merges]
    # word freqs: aaab x3, ab x1. round 1: pairs (a,a)x2*3=6? no — adjacent
    # pairs in aaab = (a,a),(a,a),(a,b): (a,a) cnt 2*3=6, (a,b) 3+1=4
    assert got[0] == (1, "a", "a", "aa", 6)
    # after merge: aaab -> [aa, a, b]; ab -> [a, b]
    # round 2: (aa,a) 3, (a,b) 3+1=4 -> (a,b) wins
    assert got[1] == (2, "a", "b", "ab", 4)
    # after: aaab -> [aa, ab]; ab -> [ab]
    # round 3: (aa,ab) 3
    assert got[2] == (3, "aa", "ab", "aaab", 3)


def test_oversized_header_dims_degrade_to_null_row():
    """ADVICE r04 (low): a crafted PNG declaring width/height >= 2^31 must
    cost ONE null-dim row, not raise and kill the whole Arrow batch."""
    crafted = _png_bytes(0x80000001, 0x7FFFFFFF + 5)
    good = _png_bytes(640, 480)
    out = M.decode_headers_batch([crafted, good, b"junk"])
    assert out["mime"][0] == "image/png"  # header itself parsed
    assert out["width"][0] is pd.NA and out["height"][0] is pd.NA
    assert (int(out["width"][1]), int(out["height"][1])) == (640, 480)
    assert out["mime"][2] is None


def test_semantic_dedup_hot_cluster_cap(spark):
    """A cluster past max_cluster_size is excluded from pair generation
    whole (members keep=True) instead of going quadratic."""
    import math

    rows = [(i, [1.0, 0.0] if i < 6 else [math.cos(i), math.sin(i)]) for i in range(9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = S.semantic_dedup(df, threshold=0.99, n_buckets=2, iters=2, max_cluster_size=3)
    out = {r["vec_id"]: r["kept"] for r in capped.collect()}
    # the 6 identical vectors share one (oversized) cluster -> all kept
    assert all(out[i] for i in range(6))
    uncapped = S.semantic_dedup(df, threshold=0.99, n_buckets=2, iters=2, max_cluster_size=None)
    out2 = {r["vec_id"]: r["kept"] for r in uncapped.collect()}
    assert out2[0] and not any(out2[i] for i in range(1, 6))  # keep-first prunes the twins


def test_calibrate_semantic_threshold(spark):
    """VERDICT r05 'missing' #3: the threshold helper is deterministic,
    monotone in q, aligned with semantic_dedup's rounding, and its
    q-quantile actually separates the corpus's near-twin mass."""
    import math

    # 20 well-spread unit vectors + one exact twin pair -> the pair-cosine
    # distribution has a single 1.0 outlier above a smooth bulk
    rows = [(i, [math.cos(i * 0.31), math.sin(i * 0.31)]) for i in range(20)]
    rows.append((20, [math.cos(0.0), math.sin(0.0)]))  # twin of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    t99 = S.calibrate_semantic_threshold(df, q=0.99, n_buckets=2, iters=2)
    # deterministic: same corpus + params -> bit-identical threshold
    assert S.calibrate_semantic_threshold(df, q=0.99, n_buckets=2, iters=2) == t99
    # monotone in q, and q=1.0 is the max pair cosine (the twin pair)
    t50 = S.calibrate_semantic_threshold(df, q=0.50, n_buckets=2, iters=2)
    tmax = S.calibrate_semantic_threshold(df, q=1.0, n_buckets=2, iters=2)
    assert t50 <= t99 <= tmax
    assert tmax == pytest.approx(1.0, abs=1e-6)
    # the calibrated threshold drives semantic_dedup to prune exactly the
    # twin: everything below t99 survives, the near-1.0 pair collapses
    out = {
        r["vec_id"]: r["kept"]
        for r in S.semantic_dedup(df, threshold=t99, n_buckets=2, iters=2).collect()
    }
    assert out[0] and not out[20]
    assert sum(not kept for kept in out.values()) == 1
    # deterministic id-hash sampling: a sampled run is reproducible too
    t_sampled = S.calibrate_semantic_threshold(df, q=0.9, n_buckets=2, iters=2, sample_mod=2)
    assert t_sampled == S.calibrate_semantic_threshold(
        df, q=0.9, n_buckets=2, iters=2, sample_mod=2
    )
    with pytest.raises(ValueError, match="q must be"):
        S.calibrate_semantic_threshold(df, q=1.5)


def test_sq8_codes_in_range_and_deterministic(spark, sf_dir):
    from rearview_spark.sources.loader import load_table
    from rearview_spark.operators.similarity import sq8_fit, sq8_encode

    emb = load_table(spark, sf_dir, "embeddings")
    bounds = sq8_fit(emb)
    enc = sq8_encode(emb, bounds)
    stats = enc.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).collect()[0]
    assert 0 <= stats["lo"] and stats["hi"] <= 255
    a = sorted((r["vec_id"], tuple(r["codes"])) for r in enc.collect())
    b = sorted((r["vec_id"], tuple(r["codes"])) for r in sq8_encode(emb, bounds).collect())
    assert a == b


def test_sq8_topk_recall_vs_brute_force(spark, sf_dir):
    from rearview_spark.sources.loader import load_table
    from rearview_spark.operators.similarity import brute_force_topk, sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in sq8_topk(emb, queries, k=10).collect()
    }
    # 8-bit/dim is mildly lossy: expect HIGH overlap (PQ's bound is 0.2;
    # SQ8 at 256 levels/dim should nearly reproduce the exact list)
    overlap = len(exact & approx) / len(exact)
    assert overlap >= 0.7, f"SQ8 recall vs brute force too low: {overlap}"


def test_range_search_radius_semantics(spark):
    from rearview_spark.operators import similarity as S

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0], 0),    # identical -> cosine 1.0
        (2, [0.9, 0.1, 0.0], 0),    # close
        (3, [0.0, 1.0, 0.0], 1),    # orthogonal -> 0.0
        (4, [-1.0, 0.0, 0.0], 1),   # opposite -> -1.0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = df.filter("vec_id = 0")
    got = {
        r["vec_id"]: r["cosine_sim"]
        for r in S.range_search(df, q, radius=0.5).collect()
    }
    assert set(got) == {1, 2}            # orthogonal/opposite excluded, no self
    assert got[1] == 1.0
    # radius below -1 admits everything except self
    assert S.range_search(df, q, radius=-1.0).count() == 4


def test_ensure_parallelism_probes_only_narrow_plans(spark, tmp_path):
    """The small-scan guard: bare file scans/projections get spread to
    cores, but a plan already containing a wide node (join/agg/window/
    explicit repartition) returns UNCHANGED — no repartition and,
    critically, no physical re-planning of the composed subtree on the
    driver (VERDICT r06 nit #1)."""
    from rearview_spark.operators._util import ensure_parallelism

    path = str(tmp_path / "docs")
    spark.createDataFrame(DOCS, "doc_id long, text string").coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)  # one file -> one partition
    cores = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < cores
    assert ensure_parallelism(docs, "doc_id").rdd.getNumPartitions() == cores
    # narrow projection/filter still probes + spreads
    proj = docs.select("doc_id", F.lower("text").alias("t"))
    assert ensure_parallelism(proj).rdd.getNumPartitions() == cores
    # wide plans are returned by identity
    agg = docs.groupBy("text").count()
    assert ensure_parallelism(agg, "text") is agg
    joined = docs.join(docs.select("doc_id"), "doc_id")
    assert ensure_parallelism(joined) is joined
    # an EXPLICIT caller coalesce is itself a Repartition node: respected
    squeezed = docs.coalesce(1)
    assert ensure_parallelism(squeezed) is squeezed
    # ...and so is repartition-by-key (RepartitionByExpression: prefix
    # match — the r09 regex dropped the word boundary that silently
    # excluded it)
    rekeyed = docs.repartition(4, "doc_id")
    assert ensure_parallelism(rekeyed) is rekeyed
    # pin each remaining _WIDE_NODES family (ADVICE r08 #4: a Spark
    # upgrade that renames a node must fail HERE, loudly)
    from pyspark.sql import Window as W

    windowed = docs.withColumn("rn", F.row_number().over(W.orderBy("doc_id")))
    assert ensure_parallelism(windowed) is windowed
    distinct = docs.select("text").distinct()
    assert ensure_parallelism(distinct) is distinct
    dedup = docs.dropDuplicates(["text"])
    assert ensure_parallelism(dedup) is dedup
    inter = docs.select("doc_id").intersect(docs.select("doc_id"))
    assert ensure_parallelism(inter) is inter
    exc = docs.select("doc_id").exceptAll(docs.select("doc_id"))
    assert ensure_parallelism(exc) is exc
    gmap = docs.groupBy("doc_id").applyInPandas(
        lambda pdf: pdf, "doc_id long, text string"
    )
    assert ensure_parallelism(gmap) is gmap
    # a column NAMED like a wide node must NOT suppress the spread —
    # the nodeName walk can't be fooled by identifiers in the tree text
    tricky = docs.select("doc_id", F.lower("text").alias("Window over Join"))
    assert ensure_parallelism(tricky).rdd.getNumPartitions() == cores


def test_ann_recall_operating_points(spark, sf_dir):
    """Recall@10 vs brute force across the ANN knobs (deterministic:
    seeded k-means, fixed data — these are pins, not flakes). The
    structural claims a user relies on: IVF recall rises with nprobe;
    IVF-PQ recall is CAPPED by code resolution (m), not rescued by
    probing wider — ADC error lets false candidates displace true ones
    as competition widens; SQ8 stays near-exact at full scan. The full
    matrix at the 10x corpus lives in PLANS.md (tools/ann_recall.py)."""
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from ann_recall import recall_at_k

    from rearview_spark.operators import similarity as S
    from rearview_spark.sources.loader import Tables

    emb = Tables(spark, sf_dir).embeddings.cache()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, queries, k=10).collect()

    ivf = {
        np: recall_at_k(
            exact,
            S.ivf_kmeans_topk(emb, queries, k=10, n_buckets=16, nprobe=np, iters=3).collect(),
        )
        for np in (1, 8)
    }
    assert ivf[8] >= ivf[1]
    assert ivf[8] >= 0.85 and ivf[1] >= 0.5

    pq = {
        m: recall_at_k(
            exact,
            S.ivf_pq_topk(
                emb, queries, topk=10, n_buckets=16, nprobe=2,
                router_iters=3, m=m, k_codes=16, pq_iters=2,
            ).collect(),
        )
        for m in (4, 8)
    }
    assert pq[8] >= pq[4]  # resolution, not probing, moves PQ recall
    assert pq[4] >= 0.2 and pq[8] <= ivf[8]

    sq8 = recall_at_k(exact, S.sq8_topk(emb, queries, k=10).collect())
    assert sq8 >= 0.9
    emb.unpersist()


def test_embedding_dedup_recall_on_jittered_twins(spark):
    """Sign-LSH embedding dedup against REALISTIC near-dups (copies with
    small multiplicative jitter, cosine ~0.999 — the make_scaled.py
    recipe in miniature): recall of twin pairs must be high and no
    cross-base pair may survive the exact-cosine verify. Deterministic
    (seeded numpy)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    n_base, copies, dim = 120, 5, 16
    for b in range(n_base):
        v = rng.normal(size=dim)
        for c in range(copies):
            jit = 1.0 + rng.uniform(-0.02, 0.02, size=dim) if c else np.ones(dim)
            rows.append((b * 1000 + c, [float(x) for x in v * jit]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = S.embedding_near_duplicates(emb, threshold=0.999, dim=16).collect()
    same = [r for r in pairs if r["id_a"] // 1000 == r["id_b"] // 1000]
    assert len(same) == len(pairs)  # exact verify kills every cross-base pair
    expected = n_base * (copies * (copies - 1) // 2)
    recall = len(same) / expected
    assert recall >= 0.9, recall


def _mp4_bytes(duration_ms: int, w: int = 0, h: int = 0, v1: bool = False) -> bytes:
    """Minimal ISO-BMFF: ftyp + moov(mvhd [+ trak(tkhd)])."""
    def box(btype: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    timescale = 1000
    if v1:
        mvhd = bytes([1, 0, 0, 0]) + b"\x00" * 16 + timescale.to_bytes(4, "big") \
            + duration_ms.to_bytes(8, "big")
    else:
        mvhd = bytes(4) + b"\x00" * 8 + timescale.to_bytes(4, "big") \
            + duration_ms.to_bytes(4, "big")
    inner = box(b"mvhd", mvhd)
    if w:
        tkhd = bytes(4) + b"\x00" * 72 + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
        inner += box(b"trak", box(b"tkhd", tkhd))
    return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + box(b"moov", inner)


def test_decode_mp4_headers():
    hdr = M.decode_header(_mp4_bytes(2500, 1920, 1080))
    assert hdr == {"mime": "video/mp4", "width": 1920, "height": 1080, "duration_ms": 2500}
    # audio-only mp4: duration, no dims
    hdr = M.decode_header(_mp4_bytes(900))
    assert hdr["mime"] == "video/mp4" and hdr["duration_ms"] == 900
    assert hdr["width"] is None
    # version-1 mvhd (64-bit duration field)
    assert M.decode_header(_mp4_bytes(7200, v1=True))["duration_ms"] == 7200
    import pytest as _pytest

    with _pytest.raises(ValueError):
        M.decode_header(b"\x00\x00\x00\x10ftypisom" + b"\x00" * 8)  # no moov


def test_mp4_through_batch_and_sniff(spark):
    payloads = [_mp4_bytes(1500, 640, 360), _png := None]
    df = spark.createDataFrame(
        [(1, bytearray(_mp4_bytes(1500, 640, 360))), (2, bytearray(b"garbage..."))],
        "media_id long, payload binary",
    )
    sniffed = {r["media_id"]: r["meta"]["mime"] for r in M.with_media_meta(df).collect()}
    assert sniffed == {1: "video/mp4", 2: "application/octet-stream"}
    out = M.decode_headers_batch([bytes(_mp4_bytes(1500, 640, 360)), b"junk"])
    assert out.iloc[0]["mime"] == "video/mp4"
    assert out.iloc[0]["duration_ms"] == 1500 and out.iloc[0]["width"] == 640
    assert out.iloc[1]["mime"] is None


def test_sniff_mime_riff_family(spark):
    """RIFF is a container family: the form type at +8 must pick the
    member (ADVICE r09 #3) — only 'WAVE' is audio/wav; WebP and AVI get
    their own types; unknown or truncated RIFF degrades to
    octet-stream, consistent with decode_wav requiring WAVE."""
    hdr = b"RIFF" + (100).to_bytes(4, "little")
    rows = [
        (1, bytearray(hdr + b"WAVE" + bytes(20))),
        (2, bytearray(hdr + b"WEBP" + b"VP8 " + bytes(16))),
        (3, bytearray(hdr + b"AVI " + b"LIST" + bytes(16))),
        (4, bytearray(hdr + b"XXXX" + bytes(20))),
        (5, bytearray(b"RIFF")),  # truncated before the form type
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: r["mime"]
        for r in df.select(
            "media_id", M.sniff_mime(F.col("payload")).alias("mime")
        ).collect()
    }
    assert got == {
        1: "audio/wav",
        2: "image/webp",
        3: "video/x-msvideo",
        4: "application/octet-stream",
        5: "application/octet-stream",
    }


def _encode_png(pixels, channels: int = 1, filters=None) -> bytes:
    """Reference PNG encoder for tests: pixels is h×w×channels nested
    list; filters picks the per-row filter type (default all 0)."""
    import zlib

    h = len(pixels)
    w = len(pixels[0])
    bpp = channels
    stride = w * bpp
    flat = [
        (px if channels == 1 else comp)
        for row in pixels
        for px in row
        for comp in (px if channels > 1 else [px])
    ]
    prev = [0] * stride
    raw = bytearray()
    for r in range(h):
        line = flat[r * stride : (r + 1) * stride]
        f = (filters or [0] * h)[r]
        raw.append(f)
        for c in range(stride):
            a = line[c - bpp] if c >= bpp else 0
            b = prev[c]
            cc = prev[c - bpp] if c >= bpp else 0
            if f == 0:
                enc = line[c]
            elif f == 1:
                enc = (line[c] - a) & 0xFF
            elif f == 2:
                enc = (line[c] - b) & 0xFF
            elif f == 3:
                enc = (line[c] - (a + b) // 2) & 0xFF
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc = (line[c] - pred) & 0xFF
            raw.append(enc)
        prev = line

    def chunk(typ: bytes, data: bytes) -> bytes:
        return len(data).to_bytes(4, "big") + typ + data + zlib.crc32(typ + data).to_bytes(4, "big")

    color = {1: 0, 3: 2, 4: 6}[channels]
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, color, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_pixels_all_filters_and_layouts():
    """The inflate+unfilter path must invert every PNG filter type and
    the three supported layouts — checked against a reference encoder
    that applies the RFC 2083 filter math in the ENCODE direction."""
    import pytest as _pytest

    gray = [[(r * 31 + c * 7) % 256 for c in range(5)] for r in range(4)]
    want = {
        "px_count": 20,
        "px_sum": sum(sum(r) for r in gray),
        "px_min": min(min(r) for r in gray),
        "px_max": max(max(r) for r in gray),
    }
    for filters in ([0] * 4, [1] * 4, [2] * 4, [3] * 4, [4] * 4, [0, 1, 2, 4]):
        got = M.decode_png_pixels(_encode_png(gray, filters=filters))
        assert got == want, filters

    rgb = [[[(r + c + ch * 50) % 256 for ch in range(3)] for c in range(3)] for r in range(2)]
    got = M.decode_png_pixels(_encode_png(rgb, channels=3, filters=[4, 4]))
    assert got["px_count"] == 18
    assert got["px_sum"] == sum(v for row in rgb for px in row for v in px)
    rgba = [[[10, 20, 30, 255], [1, 2, 3, 4]]]
    got = M.decode_png_pixels(_encode_png(rgba, channels=4, filters=[1]))
    assert got == {"px_count": 8, "px_sum": 325, "px_min": 1, "px_max": 255}

    # unsupported / corrupt inputs raise, never mis-decode
    with _pytest.raises(ValueError):
        M.decode_png_pixels(b"\x89PNG\r\n\x1a\x00" + b"\x00" * 30)  # bad sig
    header_only = _encode_png(gray)[:33]  # sig + IHDR, no IDAT
    with _pytest.raises(ValueError):
        M.decode_png_pixels(header_only)
    palette = bytearray(_encode_png(gray))
    palette[25] = 3  # color type 3 (palette) unsupported
    with _pytest.raises(ValueError):
        M.decode_png_pixels(bytes(palette))


def test_synthesize_png_pixels_roundtrip(spark):
    """End-to-end over the gate path: closed-form pixel PNGs decode to
    the formula's stats through extract_media_features."""
    df = spark.createDataFrame([(7,), (12,), (123,)], "doc_id long")
    media = M.synthesize_png_pixel_payloads(df)
    out = {
        r["media_id"]: r
        for r in M.extract_media_features(media).collect()
    }
    for did in (7, 12, 123):
        w, h = 4 + did % 8, 4 + (3 * did) % 8
        vals = [(did + 7 * r + 13 * c) % 256 for r in range(h) for c in range(w)]
        row = out[did]
        assert row["mime"] == "image/png"
        assert (row["width"], row["height"]) == (w, h)
        assert row["px_count"] == len(vals)
        assert row["px_sum"] == sum(vals)
        assert row["px_min"] == min(vals) and row["px_max"] == max(vals)


def test_decode_gif_pixels_real_lzw():
    """The GIF path must run real LZW — including table growth past the
    initial width — not just the literal-only stream the synthesizer
    emits. Encode a repetitive index stream with an actual compressing
    encoder and check the decode against the known indices."""
    def compressing_gif(indices, w, h):
        # real LZW encoder (greedy longest-match), min code size 8
        table = {(i,): i for i in range(256)}
        next_code = 258
        codes = [256]
        cur = ()
        for ix in indices:
            cand = cur + (ix,)
            if cand in table:
                cur = cand
                continue
            codes.append(table[cur])
            table[cand] = next_code
            next_code += 1
            cur = (ix,)
        if cur:
            codes.append(table[cur])
        codes.append(257)
        # pack with the width progression the DECODER will track: it
        # adds a table entry per code AFTER the first and widens when
        # its next_code hits 1 << width
        acc = nbits = 0
        packed = bytearray()
        width, dec_next, prev_seen = 9, 258, False
        for code in codes:
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                packed.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
            if code == 256:
                width, dec_next, prev_seen = 9, 258, False
            elif code != 257:
                if prev_seen:
                    dec_next += 1
                    if dec_next == (1 << width) and width < 12:
                        width += 1
                prev_seen = True
        if nbits:
            packed.append(acc & 0xFF)
        blocks = bytearray()
        for i in range(0, len(packed), 255):
            part = packed[i : i + 255]
            blocks += bytes([len(part)]) + part
        gct = bytes(v for v in range(256) for _ in range(3))
        return (
            b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + bytes([0xF7, 0, 0]) + gct
            + b"\x2c" + bytes(4) + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + bytes([0, 8]) + bytes(blocks) + b"\x00\x3b"
        )

    # low-repetition stream: >254 emitted codes force the decoder
    # through the 9->10 bit width growth (and table entries past 512)
    w, h = 32, 32
    indices = [(i * 7) % 251 for i in range(w * h)]
    got = M.decode_gif_pixels(compressing_gif(indices, w, h))
    assert got["px_count"] == 3 * w * h
    assert got["px_sum"] == 3 * sum(indices)
    assert got["px_min"] == min(indices) and got["px_max"] == max(indices)


def test_synthesize_gif_pixels_roundtrip(spark):
    df = spark.createDataFrame([(5,), (260,), (999,)], "doc_id long")
    out = {
        r["media_id"]: r
        for r in M.extract_media_features(M.synthesize_gif_pixel_payloads(df)).collect()
    }
    for did in (5, 260, 999):
        w, h = 4 + did % 8, 4 + (5 * did) % 8
        vals = [(did + 5 * r + 11 * c) % 256 for r in range(h) for c in range(w)]
        row = out[did]
        assert row["mime"] == "image/gif"
        assert (row["width"], row["height"]) == (w, h)
        assert row["px_count"] == 3 * len(vals)
        assert row["px_sum"] == 3 * sum(vals)
        assert (row["px_min"], row["px_max"]) == (min(vals), max(vals))


def test_synthesize_jpeg_pixels_roundtrip(spark):
    """End-to-end: DC-only baseline JPEGs (real Huffman scan, DC
    prediction across blocks) decode to the flat-block formula through
    extract_media_features."""
    df = spark.createDataFrame([(3,), (17,), (250,)], "doc_id long")
    out = {
        r["media_id"]: r
        for r in M.extract_media_features(M.synthesize_jpeg_pixel_payloads(df)).collect()
    }
    for did in (3, 17, 250):
        bw, bh = 1 + did % 4, 1 + (3 * did) % 4
        vals = [
            (did + 5 * bx + 9 * by) % 200 + 28
            for by in range(bh)
            for bx in range(bw)
        ]
        row = out[did]
        assert row["mime"] == "image/jpeg"
        assert (row["width"], row["height"]) == (8 * bw, 8 * bh)
        assert row["px_count"] == 64 * len(vals)
        assert row["px_sum"] == 64 * sum(vals)
        assert (row["px_min"], row["px_max"]) == (min(vals), max(vals))


def test_decode_jpeg_pixels_ac_coefficients():
    """The AC run-length/EOB path and the full 2-D IDCT, checked
    against an independent numpy IDCT reference: hand-assemble a
    one-block scan carrying a DC plus two AC coefficients (one after a
    zero run) and compare every decoded pixel stat."""
    import numpy as np

    from rearview_spark.operators.multimodal import _jpeg_huff_table

    dc_bits = [0, 0, 0, 9] + [0] * 12
    dc_vals = list(range(9))
    # AC table: EOB, ZRL and categories (run, size) we emit
    ac_bits = [0, 4] + [0] * 14
    ac_vals = [0x00, 0x11, 0x22, 0xF0]
    dc_codes = {v: (l, c) for (l, c), v in _jpeg_huff_table(dc_bits, dc_vals).items()}
    ac_codes = {v: (l, c) for (l, c), v in _jpeg_huff_table(ac_bits, ac_vals).items()}

    bits = []

    def put(code, n):
        for b in range(n - 1, -1, -1):
            bits.append((code >> b) & 1)

    def put_coeff(codebook, rs, val):
        ln, code = codebook[rs]
        put(code, ln)
        t = rs & 0x0F
        put(val if val >= 0 else val + (1 << t) - 1, t)

    put_coeff(dc_codes, 3, -5)         # DC = -5 (category 3)
    put_coeff(ac_codes, 0x11, 1)       # skip 1 zero, AC k=2 value 1
    put_coeff(ac_codes, 0x22, -2)      # skip 2 zeros, AC k=5 value -2
    put(ac_codes[0x00][1], ac_codes[0x00][0])  # EOB
    while len(bits) % 8:
        bits.append(1)
    scan = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for b in bits[i : i + 8]:
            byte = (byte << 1) | b
        scan.append(byte)
        if byte == 0xFF:
            scan.append(0x00)

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    q = 2
    buf = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes([q] * 64))
        + seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
        + seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
        + seg(0xC0, bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes(scan)
        + b"\xff\xd9"
    )

    # independent reference: zigzag positions 0, 2, 5 -> (0,0), (1,0), (0,2)
    coeffs = np.zeros((8, 8))
    coeffs[0, 0] = -5 * q
    coeffs[1, 0] = 1 * q
    coeffs[0, 2] = -2 * q
    cu = np.array([1 / np.sqrt(2)] + [1.0] * 7)
    cosm = np.cos((2 * np.arange(8)[:, None] + 1) * np.arange(8)[None, :] * np.pi / 16)
    ref = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            ref[y, x] = sum(
                cu[u] * cu[v] * coeffs[u, v] * cosm[y, u] * cosm[x, v]
                for u in range(8)
                for v in range(8)
            ) / 4
    px = np.clip(np.round(ref) + 128, 0, 255).astype(int)

    got = M.decode_jpeg_pixels(buf)
    assert got == {
        "px_count": 64,
        "px_sum": int(px.sum()),
        "px_min": int(px.min()),
        "px_max": int(px.max()),
    }


def test_decode_jpeg_rejects_unsupported():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        M.decode_jpeg_pixels(b"\xff\xd8\xff\xc2\x00\x05aaa")  # progressive SOF2
    with _pytest.raises(ValueError):
        M.decode_jpeg_pixels(b"not a jpeg")
    # zero/DNL-deferred dims (r09 review #4): must raise, not emit a
    # min>max stat row over zero blocks
    import rearview_spark.operators.multimodal as _m

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    zero_h = (
        b"\xff\xd8"
        + seg(0xC0, bytes([8]) + (0).to_bytes(2, "big") + (8).to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    )
    with _pytest.raises(ValueError):
        _m.decode_jpeg_pixels(zero_h)


def test_decode_mp4_sample_table(spark):
    """The demuxer path: chunk-table offset resolution (stsc runs, last
    chunk remainder), per-sample stsz, multi-run stts, and the co64 /
    uniform-stsz variants."""
    import pytest as _pytest

    def box(btype, payload):
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    def full(btype, payload):
        return box(btype, bytes(4) + payload)

    def mp4(sizes, chunks, stts_runs, uniform=0, co64=False, stss=None):
        # chunks: list of sample counts per chunk (encoded via stsc runs)
        data_start = 32
        mdat = box(b"mdat", bytes(sum(sizes)))
        offsets = []
        pos, s = data_start, 0
        for cnt in chunks:
            offsets.append(pos)
            pos += sum(sizes[s : s + cnt])
            s += cnt
        runs = []
        for i, cnt in enumerate(chunks):
            if not runs or runs[-1][1] != cnt:
                runs.append((i + 1, cnt))
        stsc = full(
            b"stsc",
            len(runs).to_bytes(4, "big")
            + b"".join(
                f.to_bytes(4, "big") + c.to_bytes(4, "big") + (1).to_bytes(4, "big")
                for f, c in runs
            ),
        )
        if uniform:
            stsz = full(b"stsz", uniform.to_bytes(4, "big") + len(sizes).to_bytes(4, "big"))
        else:
            stsz = full(
                b"stsz",
                bytes(4) + len(sizes).to_bytes(4, "big")
                + b"".join(x.to_bytes(4, "big") for x in sizes),
            )
        if co64:
            stco = full(
                b"co64",
                len(offsets).to_bytes(4, "big")
                + b"".join(o.to_bytes(8, "big") for o in offsets),
            )
        else:
            stco = full(
                b"stco",
                len(offsets).to_bytes(4, "big")
                + b"".join(o.to_bytes(4, "big") for o in offsets),
            )
        stts = full(
            b"stts",
            len(stts_runs).to_bytes(4, "big")
            + b"".join(c.to_bytes(4, "big") + d.to_bytes(4, "big") for c, d in stts_runs),
        )
        sync = b""
        if stss is not None:
            sync = full(
                b"stss",
                len(stss).to_bytes(4, "big")
                + b"".join(x.to_bytes(4, "big") for x in stss),
            )
        stbl = box(b"stbl", stts + stsc + stsz + stco + sync)
        moov = box(b"moov", box(b"trak", box(b"mdia", box(b"minf", stbl))))
        ftyp = box(b"ftyp", b"isom" + bytes(4) + b"isomiso2")
        return ftyp + mdat + moov

    # 5 samples in chunks of 2,2,1; dts runs 3@10 then 2@20
    sizes = [10, 20, 30, 40, 50]
    buf = mp4(sizes, [2, 2, 1], [(3, 10), (2, 20)])
    rows = M.decode_mp4_sample_table(buf)
    assert [r["offset"] for r in rows] == [32, 42, 62, 92, 132]
    assert [r["size"] for r in rows] == sizes
    assert [r["dts"] for r in rows] == [0, 10, 20, 30, 50]
    # no stss box: every sample is a sync sample (ISO 14496-12 default)
    assert [r["keyframe"] for r in rows] == [True] * 5

    # stss present: 1-based membership decides; an EMPTY stss means NO
    # sync samples, not "all" — presence flips the default
    rows = M.decode_mp4_sample_table(
        mp4(sizes, [2, 2, 1], [(5, 10)], stss=[1, 4])
    )
    assert [r["keyframe"] for r in rows] == [True, False, False, True, False]
    rows = M.decode_mp4_sample_table(mp4(sizes, [2, 2, 1], [(5, 10)], stss=[]))
    assert [r["keyframe"] for r in rows] == [False] * 5

    # uniform stsz + co64
    rows = M.decode_mp4_sample_table(
        mp4([7, 7, 7], [3], [(3, 100)], uniform=7, co64=True)
    )
    assert [r["offset"] for r in rows] == [32, 39, 46]
    assert all(r["size"] == 7 for r in rows)

    with _pytest.raises(ValueError):
        M.decode_mp4_sample_table(box(b"moov", b""))  # no stbl chain

    # corruption guards (r09 review #2): untrusted u32 counts must
    # never drive allocation. A table whose entries exceed its box
    # raises immediately; an stts RUN claiming 10M samples is capped at
    # the stsz count (1 row out, instantly) instead of materializing a
    # 10M-entry list.
    import time as _time

    t0 = _time.perf_counter()
    rows = M.decode_mp4_sample_table(mp4([10], [1], [(10_000_000, 1)]))
    assert len(rows) == 1 and _time.perf_counter() - t0 < 0.5
    # zero stsc runs with samples declared: ValueError per the contract,
    # not an IndexError from per_chunk[-1] (ADVICE r09 #2). Same-size
    # replace keeps every enclosing box length coherent.
    bad = mp4([10], [1], [(1, 1)]).replace(
        b"stsc" + bytes(4) + (1).to_bytes(4, "big"),
        b"stsc" + bytes(4) + (0).to_bytes(4, "big"),
        1,
    )
    with _pytest.raises(ValueError, match="empty stsc"):
        M.decode_mp4_sample_table(bad)

    corrupt_stsz = mp4([10], [1], [(1, 1)]).replace(
        (1).to_bytes(4, "big") + (10).to_bytes(4, "big"),
        (9_999_999).to_bytes(4, "big") + (10).to_bytes(4, "big"),
        1,
    )
    t0 = _time.perf_counter()
    with _pytest.raises(ValueError):
        M.decode_mp4_sample_table(corrupt_stsz)
    assert _time.perf_counter() - t0 < 0.5  # fail fast, no blow-up

    # synthesizer round-trip against the closed form
    sdf = M.synthesize_mp4_sample_payloads(
        spark.createDataFrame([(9,), (64,)], "doc_id long")
    )
    out = M.extract_mp4_samples(sdf).collect()
    by_id: dict = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    for did in (9, 64):
        n = 5 + did % 10
        szs = [100 + (did + 13 * k) % 50 for k in range(n)]
        delta = 512 + did % 100
        rows = sorted(by_id[did], key=lambda r: r["sample_idx"])
        assert len(rows) == n
        for k, r in enumerate(rows):
            assert r["size"] == szs[k]
            assert r["offset"] == 32 + sum(szs[:k])
            assert r["dts"] == k * delta


def test_decode_wav_samples_and_batch(spark):
    """PCM sample decode: exact int16 stats, odd-sized chunk padding,
    rejection of non-PCM/24-bit, and the null-degrade path through
    extract_audio_samples."""
    import struct

    import pytest as _pytest

    def wav(vals, audio_fmt=1, bits=16, extra_chunk=False):
        body = struct.pack(f"<{len(vals)}h", *vals)
        fmt = struct.pack("<HHIIHH", audio_fmt, 1, 8000, 16000, 2, bits)
        mid = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        if extra_chunk:  # odd-length chunk before data: pad byte honored
            mid += b"junk" + (3).to_bytes(4, "little") + b"abc\x00"[:4]
        mid += b"data" + len(body).to_bytes(4, "little") + body
        return b"RIFF" + (4 + len(mid)).to_bytes(4, "little") + b"WAVE" + mid

    vals = [0, -32768, 32767, 5, -5]
    got = M.decode_wav_samples(wav(vals))
    assert got == {"smp_count": 5, "smp_sum": -1, "smp_min": -32768, "smp_max": 32767}
    assert M.decode_wav_samples(wav(vals, extra_chunk=True))["smp_sum"] == -1
    # truncated data chunk (r09 review #3): declared size past EOF must
    # raise, never return stats over the partial body
    with _pytest.raises(ValueError):
        M.decode_wav_samples(wav(vals)[:-4])
    with _pytest.raises(ValueError):
        M.decode_wav_samples(wav(vals, audio_fmt=3))  # float PCM
    with _pytest.raises(ValueError):
        M.decode_wav_samples(wav(vals, bits=24))

    df = spark.createDataFrame(
        [(1, bytearray(wav(vals))), (2, bytearray(b"not a wav"))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in M.extract_audio_samples(df).collect()}
    assert out[1]["smp_sum"] == -1 and out[1]["smp_count"] == 5
    assert out[2]["smp_count"] is None  # null row, not a batch failure

    # synthesizer round-trip against the closed-form formula
    sdf = M.synthesize_wav_sample_payloads(
        spark.createDataFrame([(42,), (137,)], "doc_id long")
    )
    got = {r["media_id"]: r for r in M.extract_audio_samples(sdf).collect()}
    for did in (42, 137):
        n = 50 + did % 50
        formula = [((did * 31 + 7 * k) % 65536) - 32768 for k in range(n)]
        row = got[did]
        assert row["smp_count"] == n and row["smp_sum"] == sum(formula)
        assert (row["smp_min"], row["smp_max"]) == (min(formula), max(formula))


def test_bmff_major_brand_disambiguation(spark):
    """ADVICE r08 #3: the ftyp box alone only says "ISO-BMFF family" —
    the major brand at +8 distinguishes m4a audio and heic/avif images
    from video, in BOTH the JVM sniff and the Python header decode."""
    def with_brand(brand: bytes) -> bytes:
        base = _mp4_bytes(900)
        assert base[8:12] == b"isom"
        return base[:8] + brand + base[12:]

    hdr = M.decode_header(with_brand(b"M4A "))
    assert hdr["mime"] == "audio/mp4" and hdr["duration_ms"] == 900
    # still-image brands: no mvhd required, no duration
    heic = b"\x00\x00\x00\x10ftypheic\x00\x00\x00\x00" + b"\x00" * 8
    assert M.decode_header(heic)["mime"] == "image/heic"
    avif = b"\x00\x00\x00\x10ftypavif\x00\x00\x00\x00" + b"\x00" * 8
    assert M.decode_header(avif)["mime"] == "image/avif"

    df = spark.createDataFrame(
        [
            (1, bytearray(with_brand(b"M4A "))),
            (2, bytearray(with_brand(b"heic"))),
            (3, bytearray(with_brand(b"avis"))),
            (4, bytearray(with_brand(b"mp42"))),
        ],
        "media_id long, payload binary",
    )
    sniffed = {r["media_id"]: r["meta"]["mime"] for r in M.with_media_meta(df).collect()}
    assert sniffed == {
        1: "audio/mp4",
        2: "image/heic",
        3: "image/avif",
        4: "video/mp4",
    }


def test_clean_html_rules(spark):
    """The cleaning contract: script/style blocks go WITH contents,
    comments and tags go, entities decode one level with &amp; last
    (so '&amp;lt;' becomes the literal text '&lt;', never '<'),
    whitespace collapses."""
    cases = [
        (1, "<p>hello <b>world</b></p>", "hello world"),
        (2, "<script>var a = '<p>sneaky</p>';</script>after", "after"),
        (3, "<style type='x'>p { color: red }</style>text", "text"),
        (4, "a <!-- hidden <b>bold</b> --> b", "a b"),
        (5, "x &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;y", "x <tag> \"q\" 's' y"),
        (6, "one &amp;lt; two &amp; three", "one &lt; two & three"),
        (7, "  lots   of\n\nspace  ", "lots of space"),
        (8, "no markup at all", "no markup at all"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], "id long, raw string")
    got = {
        r["id"]: r["c"]
        for r in df.select("id", X.clean_html(F.col("raw")).alias("c")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    """The asymmetric signal: a short doc fully embedded in a long one
    has containment 1.0 in one direction while its Jaccard stays small
    enough that a resemblance threshold would drop the pair."""
    from rearview_spark.operators.dedup import ngram_containment_pairs

    short = "alpha beta gamma delta epsilon"
    long_doc = short + " " + " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "totally unrelated words here now")],
        "doc_id long, text string",
    )
    rows = ngram_containment_pairs(df, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment_ab"] == 1.0          # every shingle of 1 is in 2
    assert r["containment_ba"] < 0.2           # 2 is mostly other content
    assert r["jaccard"] < 0.2                  # resemblance would miss it
    # symmetric near-twins still pass through the same operator
    twins = spark.createDataFrame(
        [(1, short), (2, short + " zeta")], "doc_id long, text string"
    )
    r = ngram_containment_pairs(twins, threshold=0.5).collect()[0]
    assert r["containment_ab"] == 1.0 and 0.5 <= r["containment_ba"] <= 1.0


def test_minhash_containment_matches_exact_form(spark):
    """The banded containment operator must compute the SAME ordered
    ratios as the exact inverted-index form for every pair it recalls
    (fingerprint-set sizes vs string-set sizes agree modulo md5
    collisions, absent at this scale)."""
    from rearview_spark.operators.dedup import (
        minhash_containment_pairs,
        ngram_containment_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " with a small extra tail"),
        (3, "completely different content about columnar engines and state"),
        (4, base + " with a small extra tail and one more"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"]): (r["containment_ab"], r["containment_ba"], r["jaccard"])
        for r in ngram_containment_pairs(df, threshold=0.3).collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): (r["containment_ab"], r["containment_ba"], r["jaccard"])
        for r in minhash_containment_pairs(df, threshold=0.3).collect()
    }
    assert banded  # the twin cluster collides in some band
    for pair, ratios in banded.items():
        assert exact[pair] == ratios, pair


def test_active_pixel_decoders_policy(monkeypatch):
    """The fast-path policy: lossless formats auto-upgrade to PIL when
    importable (bit-exact), JPEG only under REARVIEW_JPEG_FAST=1 (IDCT
    rounding is implementation-defined — a curation run must not change
    decisions based on what a worker can import)."""
    from rearview_spark.operators import multimodal as mm

    monkeypatch.delenv("REARVIEW_JPEG_FAST", raising=False)
    if mm._pil_image() is None:
        # this container: pure fallback IS the active table
        assert mm.active_pixel_decoders() == mm._PIXEL_DECODERS
        monkeypatch.setattr(mm, "_pil_image", lambda: object())  # simulate PIL
    decs = mm.active_pixel_decoders()
    assert decs["image/png"] is mm._pil_png_pixel_stats
    assert decs["image/gif"] is mm._pil_gif_pixel_stats
    assert decs["image/jpeg"] is mm.decode_jpeg_pixels  # opt-in only
    monkeypatch.setenv("REARVIEW_JPEG_FAST", "1")
    assert mm.active_pixel_decoders()["image/jpeg"] is mm._pil_jpeg_pixel_stats


def test_pil_fast_path_bit_exact(spark):
    """When PIL IS present (not in this container — importorskip), the
    lossless fast paths must agree byte-for-byte with the reference
    decoders on the synthesized corpora, and reject what they reject
    (palette PNG stays null-degraded under both)."""
    pytest.importorskip("PIL")
    from rearview_spark.operators import multimodal as mm

    df = spark.createDataFrame([(7,), (123,), (998,)], "doc_id long")
    for synth, pure, fast in (
        (mm.synthesize_png_pixel_payloads, mm.decode_png_pixels, mm._pil_png_pixel_stats),
        (mm.synthesize_gif_pixel_payloads, mm.decode_gif_pixels, mm._pil_gif_pixel_stats),
    ):
        for r in synth(df).collect():
            b = bytes(r["payload"])
            assert fast(b) == pure(b)
    # JPEG fast path runs and lands within the documented ±1 LSB band
    for r in mm.synthesize_jpeg_pixel_payloads(df).collect():
        b = bytes(r["payload"])
        ref, got = mm.decode_jpeg_pixels(b), mm._pil_jpeg_pixel_stats(b)
        assert got["px_count"] == ref["px_count"]
        assert abs(got["px_sum"] - ref["px_sum"]) <= ref["px_count"]


def test_pmi_collocations_hand_corpus(spark):
    """PMI on a 3-doc corpus small enough to compute by hand: unigrams
    x:3 y:2 z:1 (N1=6), bigrams (x,y):2 (x,z):1 (N2=3) — both pairs get
    PMI = ln 4; the (pmi, w1, w2) ordering breaks the tie."""
    import math

    df = spark.createDataFrame(
        [(1, "x y"), (2, "x y"), (3, "x z")], "doc_id long, text string"
    )
    rows = X.pmi_collocations(df, min_count=1, top_k=10).orderBy("rank").collect()
    assert [(r["w1"], r["w2"], r["c_pair"], r["rank"]) for r in rows] == [
        ("x", "y", 2, 1),
        ("x", "z", 1, 2),
    ]
    want = round(math.log(4.0) + 5e-10, 6)
    assert all(r["pmi"] == want for r in rows)
    # support floor: min_count=2 keeps only the repeated pair
    top = X.pmi_collocations(df, min_count=2, top_k=10).collect()
    assert [(r["w1"], r["w2"]) for r in top] == [("x", "y")]


def test_source_kl_divergence_hand_corpus(spark):
    """A: tokens {a:2, b:1}, B: {b:3}; corpus {a:2, b:4}, N=6.
    KL_A = (2/3)ln2 + (1/3)ln(1/2) = ln2/3; KL_B = ln(3/2)."""
    import math

    df = spark.createDataFrame(
        [(1, "a a b", "A"), (2, "b b b", "B")],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in X.source_kl_divergence(df).collect()}
    assert rows["A"]["n_tokens"] == 3 and rows["B"]["n_tokens"] == 3
    assert rows["A"]["kl"] == pytest.approx(math.log(2) / 3, abs=1e-6)
    assert rows["B"]["kl"] == pytest.approx(math.log(1.5), abs=1e-6)
    # a single-source corpus has zero drift by definition
    one = spark.createDataFrame(
        [(1, "x y z", "A"), (2, "x x", "A")], "doc_id long, text string, source string"
    )
    assert X.source_kl_divergence(one).collect()[0]["kl"] == 0.0


def test_mjpeg_keyframes_end_to_end(spark):
    """Video→pixels: the MJPEG fixture demuxes through the real sample
    tables, codec-gates on the stsd fourcc, seeks first-keyframe-per-
    bucket, and entropy-decodes each byte range — stats must equal the
    per-frame closed form (seed = id + 131*k). Payloads without an
    stsd (the plain sample-table fixture) and corrupt bytes contribute
    zero rows."""
    from rearview_spark.operators import multimodal as M

    df = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    media = M.synthesize_mjpeg_mp4_payloads(df)
    got = sorted(
        (r.media_id, r.sample_idx, r.dts, r.px_count, r.px_sum, r.px_min, r.px_max)
        for r in M.decode_mjpeg_keyframes(media, every_units=1024).collect()
    )
    exp = []
    for doc_id in range(8):
        n, delta = 2 + doc_id % 3, 512 + doc_id % 100
        picked = {}
        for k in range(n):
            if doc_id % 2 == 0 and k % 2:
                continue  # stss marks only even k sync on even ids
            picked.setdefault(k * delta // 1024, k)
        for k in picked.values():
            s = doc_id + 131 * k
            bw, bh = 1 + s % 4, 1 + (3 * s) % 4
            vs = [
                (s + 5 * bx + 9 * by) % 200 + 28
                for by in range(bh)
                for bx in range(bw)
            ]
            exp.append(
                (doc_id, k, k * delta, 64 * bw * bh, 64 * sum(vs), min(vs), max(vs))
            )
    assert got == sorted(exp)

    # codec gate: no stsd -> not MJPEG -> zero rows
    plain = M.synthesize_mp4_sample_payloads(df)
    assert M.decode_mjpeg_keyframes(plain).count() == 0
    # corrupt payloads degrade to zero rows, never an exception
    junk = spark.createDataFrame(
        [(1, bytearray(b"\x00" * 40)), (2, bytearray(b"ftypnot-an-mp4"))],
        "media_id long, payload binary",
    )
    assert M.decode_mjpeg_keyframes(junk).count() == 0


def test_mp4_codec_fourcc():
    """stsd parse: fourcc comes back for a visual sample entry; absent
    stsd (older fixtures), truncated boxes, and non-BMFF bytes all
    return None instead of raising."""
    from rearview_spark.operators.multimodal import _mp4_codec_fourcc

    def box(btype, payload):
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    def full(btype, payload):
        return box(btype, bytes(4) + payload)

    entry = (86).to_bytes(4, "big") + b"avc1" + bytes(6) + (1).to_bytes(2, "big") + bytes(70)
    stsd = full(b"stsd", (1).to_bytes(4, "big") + entry)
    chain = box(
        b"moov", box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stsd))))
    )
    assert _mp4_codec_fourcc(chain) == "avc1"
    no_stsd = box(b"moov", box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", b"")))))
    assert _mp4_codec_fourcc(no_stsd) is None
    assert _mp4_codec_fourcc(b"") is None
    assert _mp4_codec_fourcc(b"\x00\x01garbage") is None
    # stsd too short for an entry header
    short = box(b"moov", box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", full(b"stsd", (1).to_bytes(4, "big")))))))
    assert _mp4_codec_fourcc(short) is None


def test_audio_chunk_features_framing(spark):
    """Chunk framing: full 16-sample frames plus a remainder frame, each
    with exact integer sum/energy/min/max; corrupt payloads contribute
    zero rows."""
    from rearview_spark.operators import multimodal as M

    df = spark.range(3, 5).withColumnRenamed("id", "doc_id")  # n = 53, 54
    media = M.synthesize_wav_sample_payloads(df)
    got = {
        (r.media_id, r.chunk_idx): (r.smp_count, r.smp_sum, r.energy, r.smp_min, r.smp_max)
        for r in M.extract_audio_chunk_features(media, samples_per_chunk=16).collect()
    }
    for doc_id in (3, 4):
        n = 50 + doc_id % 50
        vals = [((doc_id * 31 + 7 * k) % 65536) - 32768 for k in range(n)]
        for ci in range(0, n, 16):
            fr = vals[ci : ci + 16]
            assert got[(doc_id, ci // 16)] == (
                len(fr), sum(fr), sum(v * v for v in fr), min(fr), max(fr)
            )
    assert len(got) == sum(-(-(50 + d % 50) // 16) for d in (3, 4))
    junk = spark.createDataFrame(
        [(9, bytearray(b"RIFFxxxxWAVE"))], "media_id long, payload binary"
    )
    assert M.extract_audio_chunk_features(junk).count() == 0


def test_semantic_contamination_flags_planted_leaks(spark):
    """Asymmetric decontamination: a corpus vector that is a jittered
    copy of a benchmark vector is flagged with that benchmark id; an
    unrelated (orthogonal-ish) vector is not; ties on max cosine break
    toward the SMALLEST benchmark id."""
    from rearview_spark.operators.similarity import semantic_contamination

    dim = 64
    base = [1.0 if d % 3 == 0 else 0.5 for d in range(dim)]
    other = [(-1.0) ** d * (1.0 + d / dim) for d in range(dim)]
    near = [v * (1.0 + 0.001 * (d % 5 - 2)) for d, v in enumerate(base)]
    rows_bench = [(10, base), (11, base), (12, other)]  # 10/11 identical: tie
    rows_corpus = [(1, near), (2, [v + 7.0 for v in other[::-1]])]
    bench = spark.createDataFrame(rows_bench, "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(rows_corpus, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.best_bench_id, r.max_cosine, r.n_matches)
        for r in semantic_contamination(
            corpus, bench, threshold=0.99, planes=16, bands=2, dim=dim
        ).collect()
    }
    assert set(got) == {1}  # only the planted leak
    best, cos, n = got[1]
    assert best == 10  # tie between identical bench 10/11 -> min id
    assert cos >= 0.99 and n == 2


def test_semantic_contamination_bench_id_col_reads_benchmark_ids(spark):
    """bench_id_col names the id column IN the benchmark frame (not just
    an output alias — ADVICE r12): a benchmark keyed 'qid' yields the
    same verdicts as the same rows keyed by the corpus's id_col."""
    from rearview_spark.operators.similarity import semantic_contamination

    dim = 64
    base = [1.0 if d % 3 == 0 else 0.5 for d in range(dim)]
    near = [v * (1.0 + 0.001 * (d % 5 - 2)) for d, v in enumerate(base)]
    corpus = spark.createDataFrame(
        [(1, near)], "vec_id long, embedding array<double>"
    )
    bench_qid = spark.createDataFrame(
        [(10, base)], "qid long, embedding array<double>"
    )
    got = semantic_contamination(
        corpus, bench_qid, threshold=0.99, planes=16, bands=2, dim=dim,
        bench_id_col="qid",
    ).collect()
    assert [(r.vec_id, r.best_bench_id, r.n_matches) for r in got] == [(1, 10, 1)]


def test_semantic_contamination_bucket_cap_drops_hot_band(spark):
    """A flood of identical corpus vectors past max_bucket_size is
    dropped whole from that band's candidates (both bands share the
    same key here, so the hot vectors produce no matches at all)."""
    from rearview_spark.operators.similarity import semantic_contamination

    dim = 64
    base = [1.0] * dim
    corpus = spark.createDataFrame(
        [(i, base) for i in range(30)], "vec_id long, embedding array<double>"
    )
    bench = spark.createDataFrame([(100, base)], "vec_id long, embedding array<double>")
    flagged = semantic_contamination(
        corpus, bench, threshold=0.99, planes=16, bands=2, dim=dim, max_bucket_size=10
    )
    assert flagged.count() == 0
    kept = semantic_contamination(
        corpus, bench, threshold=0.99, planes=16, bands=2, dim=dim, max_bucket_size=None
    )
    assert kept.count() == 30


def test_canonical_docs_keeps_best_quality_member(spark):
    """Within a duplicate cluster the highest-quality member survives
    (ties toward min id); singletons are their own canonical."""
    from rearview_spark.operators.dedup import canonical_docs

    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, dup, 10),
        (2, dup, 30),           # best quality in the cluster -> canonical
        (3, dup + " tail", 30), # near-dup, ties 2 on quality -> min id 2 wins
        (9, "completely unrelated text about spark shuffles and joins", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    got = {
        r.doc_id: (r.component, r.canonical_id, r.keep)
        for r in canonical_docs(df, threshold=0.05).collect()
    }
    assert got[1] == (1, 2, False)
    assert got[2] == (1, 2, True)
    assert got[3] == (1, 2, False)
    assert got[9] == (9, 9, True)


def test_funnel_conversion_hand_sequences(spark):
    """Hand funnel: in-order users convert, out-of-order and
    past-horizon users don't; equal timestamps satisfy 'after'."""
    import datetime as dt

    from rearview_spark.operators.behavior import funnel_conversion

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = [
        # u1: full in-order funnel
        (1, t0, 1, "view"), (2, t0 + h, 1, "click"), (3, t0 + 2 * h, 1, "purchase"),
        # u2: click BEFORE view -> stops at stage 1
        (4, t0 + h, 2, "click"), (5, t0 + 2 * h, 2, "view"),
        # u3: purchase past the 1-day horizon -> stops at stage 2
        (6, t0, 3, "view"), (7, t0 + h, 3, "click"),
        (8, t0 + dt.timedelta(days=2), 3, "purchase"),
        # u4: click at the SAME instant as view counts
        (9, t0, 4, "view"), (10, t0, 4, "click"),
        # u5: never views -> not in the funnel at all
        (11, t0, 5, "purchase"),
    ]
    df = spark.createDataFrame(
        [(eid, ts, uid, et) for eid, ts, uid, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {
        r.stage: (r.step, r.n_users, r.conversion)
        for r in funnel_conversion(
            df, steps=("view", "click", "purchase"), horizon="1 day"
        ).collect()
    }
    assert got[1] == ("view", 4, 1.0)        # u1 u2 u3 u4
    assert got[2] == ("click", 3, 0.75)      # u1 u3 u4
    assert got[3][0:2] == ("purchase", 1)    # u1 only

    # strict=True (the retired ev_conversion_funnel gate's semantics,
    # r16): the same-instant click no longer satisfies "after", so u4
    # drops out of stage 2; everything else is unchanged
    strict = {
        r.stage: (r.step, r.n_users)
        for r in funnel_conversion(
            df, steps=("view", "click", "purchase"), horizon="1 day",
            strict=True,
        ).collect()
    }
    assert strict[1] == ("view", 4)
    assert strict[2] == ("click", 2)         # u1 u3 (u4's tie rejected)
    assert strict[3] == ("purchase", 1)      # u1
    import pytest

    with pytest.raises(ValueError):
        funnel_conversion(df, steps=("view",))


def test_event_transitions_counts_and_probabilities(spark):
    """Transition matrix over a deterministic two-user sequence; ties
    on ts break by event_id."""
    import datetime as dt

    from rearview_spark.operators.behavior import event_transitions

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, t0, 1, "a"), (2, t0 + s, 1, "b"), (3, t0 + 2 * s, 1, "a"),
        (4, t0, 2, "a"), (5, t0, 2, "b"),  # same ts: order by event_id -> a->b
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r.src_type, r.dst_type): (r.n_transitions, r.p)
        for r in event_transitions(df).collect()
    }
    assert got[("a", "b")] == (2, 1.0)
    assert got[("b", "a")] == (1, 1.0)
    assert set(got) == {("a", "b"), ("b", "a")}


def test_multi_touch_attribution_credit_conservation(spark):
    """Per-conversion credits sum to exactly the conversion value;
    recency ordering holds (later touch -> larger weight); same-instant
    touch gets W+1, window-edge touch gets 1; touches outside the
    window get nothing."""
    import datetime as dt

    from rearview_spark.operators.behavior import multi_touch_attribution

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0 - dt.timedelta(seconds=1800), 1, "click", 0.0),  # edge: w = 1
        (2, t0 - dt.timedelta(seconds=60), 1, "click", 0.0),    # w = 1741
        (3, t0, 1, "click", 0.0),                                # same instant: w = 1801
        (4, t0 - dt.timedelta(seconds=1801), 1, "click", 0.0),   # outside
        (5, t0, 1, "purchase", 90.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        r.touch_id: (r.w, r.credit)
        for r in multi_touch_attribution(df, window_seconds=1800).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1][0] == 1 and got[2][0] == 1741 and got[3][0] == 1801
    assert abs(sum(c for _, c in got.values()) - 90.0) < 1e-9


def test_top_paths_counts_and_ties(spark):
    """Trigram paths over two user sequences with a tie broken by path
    string; length-2 degenerates to the transition pairs."""
    from datetime import datetime

    from rearview_spark.operators.behavior import top_paths

    def ev(i, u, t, et):
        return (i, u, datetime(2024, 1, 1, 0, t), et)

    rows = [
        # user 1: a b c a b c  -> trigrams: abc, bca, cab, abc
        ev(1, 1, 0, "a"), ev(2, 1, 1, "b"), ev(3, 1, 2, "c"),
        ev(4, 1, 3, "a"), ev(5, 1, 4, "b"), ev(6, 1, 5, "c"),
        # user 2: b c a       -> bca
        ev(7, 2, 0, "b"), ev(8, 2, 1, "c"), ev(9, 2, 2, "a"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, event_type string"
    )
    got = [(r["path"], r["n_paths"], r["rank"]) for r in
           top_paths(df, length=3, k=10).orderBy("rank").collect()]
    assert got == [
        ("a > b > c", 2, 1),
        ("b > c > a", 2, 2),   # count tie with abc -> path-lexicographic
        ("c > a > b", 1, 3),
    ]
    pairs = {(r["path"], r["n_paths"]) for r in top_paths(df, length=2, k=10).collect()}
    assert pairs == {("a > b", 2), ("b > c", 3), ("c > a", 2)}
    with pytest.raises(ValueError):
        top_paths(df, length=1)


def test_top_paths_never_crosses_users(spark):
    from datetime import datetime

    from rearview_spark.operators.behavior import top_paths

    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 0), "a"),
        (2, 2, datetime(2024, 1, 1, 0, 1), "b"),
        (3, 3, datetime(2024, 1, 1, 0, 2), "c"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, event_type string"
    )
    assert top_paths(df, length=2, k=10).count() == 0


def test_profile_numeric_columns(spark):
    from rearview_spark.operators.profiling import profile_numeric_columns

    df = spark.createDataFrame(
        [(1.0, None), (1.0, 2.5), (3.5, -1.0), (None, -1.0)],
        "a double, b double",
    )
    got = {r["col_name"]: r for r in profile_numeric_columns(df, ["a", "b"]).collect()}
    a, b = got["a"], got["b"]
    assert (a["n_rows"], a["n_nulls"], a["n_distinct"]) == (4, 1, 2)
    assert (a["min_value"], a["max_value"]) == (1.0, 3.5)
    assert (b["n_rows"], b["n_nulls"], b["n_distinct"]) == (4, 1, 2)
    assert (b["min_value"], b["max_value"]) == (-1.0, 2.5)


def test_profile_approx_mode(spark):
    """exact=False swaps count(DISTINCT) for approx_count_distinct: same
    answers at tiny cardinality, and the plan loses the two-phase
    distinct rewrite whose first Exchange is keyed by (col_name, value)
    — i.e. a shuffle sized by value CARDINALITY, the 100 TB memory risk
    VERDICT_r12 flagged. The production knob must be reachable as code.
    (Spark 4.1 plans one mixed distinct agg by folding the value into
    the grouping key, not via an Expand node — Expand only appears with
    >= 2 distinct aggregates — so the pin is on the extra Exchange.)"""
    from rearview_spark.operators.profiling import profile_numeric_columns

    df = spark.createDataFrame(
        [(1.0, None), (1.0, 2.5), (3.5, -1.0), (None, -1.0)],
        "a double, b double",
    )
    def plan_of(frame):
        return spark.sparkContext._jvm.PythonSQLUtils.explainString(
            frame._jdf.queryExecution(), "formatted"
        )

    # Plans are read from fresh, unexecuted frames — once AQE
    # materializes a frame, explain prints Final + Initial sections and
    # node counts double.
    approx_plan = plan_of(profile_numeric_columns(df, ["a", "b"], exact=False))
    exact_plan = plan_of(profile_numeric_columns(df, ["a", "b"], exact=True))

    approx = profile_numeric_columns(df, ["a", "b"], exact=False)
    got = {r["col_name"]: r for r in approx.collect()}
    # HLL++ is exact at this cardinality; the rest of the profile is
    # computed identically in both modes.
    assert (got["a"]["n_nulls"], got["a"]["n_distinct"]) == (1, 2)
    assert (got["b"]["min_value"], got["b"]["max_value"]) == (-1.0, 2.5)

    def n_exchanges(plan):
        return sum(
            1
            for line in plan.splitlines()
            if line.startswith("(") and line.rstrip().endswith("Exchange")
        )

    assert "count(distinct" in exact_plan
    assert n_exchanges(exact_plan) == 2  # value-keyed shuffle present
    assert "approx_count_distinct" in approx_plan
    assert "count(distinct" not in approx_plan
    # One col_name-keyed shuffle of constant-size HLL partials only.
    assert n_exchanges(approx_plan) == 1


def test_mean_shift_changepoint_flags_level_shift(spark):
    """A series that jumps from a flat 0-ish band to a 10-ish band must
    flag exactly around the jump; full-window edge trimming holds."""
    from datetime import datetime, timedelta

    from rearview_spark.operators.anomaly import mean_shift_changepoints

    t0 = datetime(2024, 1, 1)
    vals = [0.0, 1.0] * 10 + [10.0, 11.0] * 10   # shift at index 20
    rows = [
        ("m", t0 + timedelta(hours=i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    out = mean_shift_changepoints(df, window=4, z=2.0).orderBy("ts").collect()
    # rows 4 .. len-4 score (full 4-row windows both sides)
    assert len(out) == len(vals) - 4 - 3
    flagged = [r["ts"] for r in out if r["is_shift"]]
    assert t0 + timedelta(hours=20) in flagged
    # far from the jump nothing flags
    assert all(
        abs((ts - (t0 + timedelta(hours=20))).total_seconds()) <= 4 * 3600
        for ts in flagged
    )
    # two flat windows -> null score, not a division blow-up
    flat = spark.createDataFrame(
        [("m", t0 + timedelta(hours=i), 5.0) for i in range(12)],
        "metric string, ts timestamp, value double",
    )
    fo = mean_shift_changepoints(flat, window=4, z=2.0).collect()
    assert fo and all(r["shift_z"] is None and not r["is_shift"] for r in fo)


def test_gram_matrix_hand_computed_and_partition_invariant(spark):
    from rearview_spark.operators.linalg import gram_matrix

    rows = [(1, [1.0, 2.0]), (2, [3.0, -1.0]), (3, [0.5, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # quant 1000: q = [[1000,2000],[3000,-1000],[500,0]]
    want = {
        (0, 0): 1000**2 + 3000**2 + 500**2,
        (0, 1): 1000 * 2000 + 3000 * -1000,
        (1, 0): 1000 * 2000 + 3000 * -1000,
        (1, 1): 2000**2 + 1000**2,
    }
    for parts in (1, 3):
        got = {
            (r["j"], r["k"]): r["s"]
            for r in gram_matrix(df.repartition(parts)).collect()
        }
        assert got == want


def test_top_principal_component_recovers_dominant_direction(spark):
    from rearview_spark.operators.linalg import top_principal_component

    # points spread along (3, 4)/5 with small orthogonal jitter: the top
    # PC must align with it — loading ratio ~ 4/3, same sign
    rows = []
    for i in range(-10, 11):
        t = i / 10.0
        for eps in (-0.02, 0.02):
            rows.append((len(rows), [0.6 * t - 0.8 * eps, 0.8 * t + 0.6 * eps]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    loadings, eig = top_principal_component(df, iterations=12)
    v = {r["dim_idx"]: r["loading"] for r in loadings.collect()}
    assert eig > 0
    assert abs(v[1] / v[0] - 4.0 / 3.0) < 0.01
    assert v[0] * v[1] > 0  # same sign, pinned by the all-ones start
    # max-norm: the largest |loading| is exactly 1.0 (scale/scale)
    assert max(abs(x) for x in v.values()) == 1.0


def test_top_principal_component_rejects_degenerate(spark):
    import pytest as _pt

    from rearview_spark.operators.linalg import top_principal_component

    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with _pt.raises(ValueError):
        top_principal_component(zeros)


def test_pc_scores_order_along_dominant_axis_and_no_shuffle(spark):
    from rearview_spark.operators.linalg import pc_scores, top_principal_component

    rows = [(i, [i / 10.0, 2 * i / 10.0]) for i in range(-5, 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    loadings, _ = top_principal_component(df, iterations=10)
    scored = pc_scores(df, loadings)
    got = {r["vec_id"]: r["score_fp"] for r in scored.collect()}
    # scores are monotone in i (points lie on one line through origin)
    ordered = [got[i] for i in range(-5, 6)]
    assert ordered == sorted(ordered) or ordered == sorted(ordered, reverse=True)
    assert got[0] == 0
    # serving is a pure narrow projection: no Exchange in the plan
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_ols_fit_exact_on_noiseless_plane_and_matches_numpy(spark):
    import numpy as np

    from rearview_spark.operators.linalg import ols_fit

    rows = [
        (x1, x2, 3 + 2 * x1 + 5 * x2)
        for x1 in range(6)
        for x2 in range(4)
    ]
    df = spark.createDataFrame(rows, "x1 long, x2 long, y long")
    got = {r["term"]: r["beta"] for r in ols_fit(df, "y", ["x1", "x2"]).collect()}
    assert got == {"intercept": 3.0, "x1": 2.0, "x2": 5.0}

    # noisy integer data: agree with numpy lstsq to float precision
    noisy = [
        (x1, x2, 3 + 2 * x1 + 5 * x2 + ((x1 * 7 + x2 * 3) % 5 - 2))
        for x1 in range(8)
        for x2 in range(5)
    ]
    df2 = spark.createDataFrame(noisy, "x1 long, x2 long, y long")
    got2 = {r["term"]: r["beta"] for r in ols_fit(df2, "y", ["x1", "x2"]).collect()}
    a = np.array([[1, x1, x2] for x1, x2, _ in noisy], dtype=float)
    b = np.array([y for *_, y in noisy], dtype=float)
    ref, *_ = np.linalg.lstsq(a, b, rcond=None)
    for i, term in enumerate(["intercept", "x1", "x2"]):
        assert abs(got2[term] - ref[i]) < 1e-9

    # single feature degenerates to the simple-regression closed form
    got1 = {r["term"]: r["beta"] for r in ols_fit(df, "y", ["x1"]).collect()}
    assert abs(got1["x1"] - 2.0) < 1e-12


def test_ols_fit_rejects_collinear(spark):
    import pytest as _pt

    from rearview_spark.operators.linalg import ols_fit

    df = spark.createDataFrame(
        [(i, 2 * i, i * 3) for i in range(5)], "x1 long, x2 long, y long"
    )
    with _pt.raises(ValueError):
        ols_fit(df, "y", ["x1", "x2"])


def test_rake_keywords_hand_computed(spark):
    from rearview_spark.operators.text import rake_keywords

    # doc: "deep learning of deep nets" -> phrases "deep learning",
    # "deep nets"; freq(deep)=2, deg(deep)=4, freq(learning)=1,
    # deg(learning)=2, freq(nets)=1, deg(nets)=2
    # scores (x1e6): deep=2e6, learning=2e6, nets=2e6
    # phrase scores: both 4e6; tie -> lexicographic
    df = spark.createDataFrame(
        [(1, "deep learning of deep nets")], "doc_id long, text string"
    )
    got = [
        (r["phrase"], r["n_occurrences"], r["score_fp"], r["rank"])
        for r in rake_keywords(df, k=5).orderBy("rank").collect()
    ]
    assert got == [
        ("deep learning", 1, 4_000_000, 1),
        ("deep nets", 1, 4_000_000, 2),
    ]

    # repeated phrase counts occurrences once in the ranking frame
    df2 = spark.createDataFrame(
        [(1, "fast join and fast join"), (2, "fast join")],
        "doc_id long, text string",
    )
    got2 = {
        r["phrase"]: (r["n_occurrences"], r["score_fp"])
        for r in rake_keywords(df2, k=5).collect()
    }
    # freq(fast)=3, deg(fast)=6 -> 2e6; same for join; phrase = 4e6
    assert got2 == {"fast join": (3, 4_000_000)}


def test_trigram_search_equals_scan_and_prunes(spark):
    import pytest as _pt

    from rearview_spark.operators.text import build_trigram_index, trigram_search

    rows = [
        (1, "alpha beta gamma"),
        (2, "beta gamma delta"),
        (3, "unrelated words here"),
        (4, "ALPHA  Beta gamma"),   # normalization: case + whitespace
        (5, "alphabet agamma"),     # shares grams but not the substring
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_trigram_index(docs)
    got = sorted(
        r["doc_id"] for r in trigram_search(docs, idx, "beta gamma").collect()
    )
    scan = sorted(
        r["doc_id"]
        for r in docs.filter(
            F.contains(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                F.lit("beta gamma"),
            )
        ).collect()
    )
    assert got == scan == [1, 2, 4]
    # the gram prune really prunes: doc 3 shares no pattern gram
    from rearview_spark.operators.text import normalize_text  # noqa: F401

    pat_grams = {"beta gamma"[i : i + 3] for i in range(len("beta gamma") - 2)}
    cands = (
        idx.filter(F.col("gram").isin(sorted(pat_grams)))
        .groupBy("doc_id")
        .count()
        .filter(F.col("count") == len(pat_grams))
    )
    assert 3 not in {r["doc_id"] for r in cands.collect()}
    with _pt.raises(ValueError):
        trigram_search(docs, idx, "ab")


def test_interval_union_time_hand_computed(spark):
    from rearview_spark.operators.behavior import interval_union_time

    rows = [
        # user 1: [0,10] u [5,20] u [30,40] -> 2 islands, 20+10=30s
        (1, 0, 10), (1, 5, 20), (1, 30, 40),
        # user 2: touching intervals merge: [0,5] u [5,8] -> 1 island, 8s
        (2, 0, 5), (2, 5, 8),
        # user 3: containment: [0,100] contains [10,20] -> 100s
        (3, 0, 100), (3, 10, 20),
    ]
    df = spark.createDataFrame(rows, "user_id long, start long, end long")
    got = {
        r["user_id"]: (r["n_islands"], r["covered_seconds"])
        for r in interval_union_time(df, "user_id").collect()
    }
    assert got == {1: (2, 30), 2: (1, 8), 3: (1, 100)}


def test_psi_drift_detects_shift_and_stays_low_when_stable(spark):
    from datetime import datetime, timedelta

    from rearview_spark.operators.anomaly import psi_drift

    t0 = datetime(2024, 1, 1)

    def mk(rows):
        return spark.createDataFrame(rows, "ts timestamp, value double")

    # stable: same deterministic sawtooth in both halves -> tiny PSI
    stable = mk(
        [(t0 + timedelta(hours=i), float(i % 20)) for i in range(400)]
    )
    r = psi_drift(stable, bins=10).collect()[0]
    assert r["n_base"] + r["n_cur"] == 400
    assert 0 <= r["psi"] < 0.05

    # drifted: second half shifted by +100 -> every bin overflows to
    # the top bucket; PSI far above the 0.25 "drifted" threshold
    drifted = mk(
        [
            (t0 + timedelta(hours=i), float(i % 20) + (100.0 if i >= 200 else 0.0))
            for i in range(400)
        ]
    )
    r2 = psi_drift(drifted, bins=10).collect()[0]
    assert r2["psi"] > 0.25
    import pytest as _pt

    with _pt.raises(ValueError):
        psi_drift(stable.filter("value > 1e9"))


def test_funnel_latency_semantics(spark):
    from datetime import datetime, timedelta

    from rearview_spark.plans.events_queries import ev_funnel_latency  # noqa: F401
    # drive the same shape directly on a crafted frame via the plan fn's
    # building blocks: first view, first purchase at-or-after it
    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: purchase BEFORE any view (ignored), view, purchase 60s later
        (1, 1, t0, "purchase"),
        (2, 1, t0 + timedelta(seconds=10), "view"),
        (3, 1, t0 + timedelta(seconds=70), "purchase"),
        # user 2: view, never purchases -> not converted
        (4, 2, t0, "view"),
        # user 3: two views; latency measured from the FIRST view
        (5, 3, t0, "view"),
        (6, 3, t0 + timedelta(seconds=100), "view"),
        (7, 3, t0 + timedelta(seconds=130), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    views = (
        df.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("long")).alias("t_view"))
    )
    conv = (
        df.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").cast("long").alias("t_p"))
        .join(views, "user_id")
        .filter(F.col("t_p") >= F.col("t_view"))
        .groupBy("user_id")
        .agg((F.min("t_p") - F.first("t_view")).alias("latency_s"))
    )
    got = {r["user_id"]: r["latency_s"] for r in conv.collect()}
    assert got == {1: 60, 3: 130}


def test_nb_train_classify_hand_computed(spark):
    """Multinomial NB on a 4-doc corpus: likelihoods/priors match the
    hand-computed add-1 smoothed model, multiplicity counts (the
    'multinomial' part), unseen tokens ride the default path, and exact
    score ties break toward the lexicographically smallest label."""
    import math

    from rearview_spark.operators.classify import NB_SCALE, nb_classify, nb_train

    rows = [
        (1, "spam spam buy now", "spam"),
        (2, "buy cheap spam", "spam"),
        (3, "meeting notes agenda", "ham"),
        (4, "agenda for the meeting", "ham"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, label string")
    lik, pri = nb_train(docs, "label")
    # vocab = 9 distinct tokens; spam totals 7 tokens, ham 7.
    likm = {(r["label"], r["w"]): r["qlp"] for r in lik.collect()}
    q = lambda p: round(math.log(p) * NB_SCALE)  # noqa: E731
    assert likm[("spam", "spam")] == q(4 / 16)   # c=3 (+1) / (7 + 9)
    assert likm[("ham", "agenda")] == q(3 / 16)  # c=2 (+1)
    assert ("ham", "spam") not in likm           # unseen -> default path
    prim = {r["label"]: (r["q_prior"], r["q_default"]) for r in pri.collect()}
    assert prim["spam"] == (q(2 / 4), q(1 / 16))
    assert prim["ham"] == (q(2 / 4), q(1 / 16))

    test = spark.createDataFrame(
        [(10, "buy spam now"), (11, "the meeting agenda"), (12, "zzz unk")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["predicted"], r["q_score"])
        for r in nb_classify(test, lik, pri).collect()
    }
    assert got[10][0] == "spam" and got[11][0] == "ham"
    # doc 12: every token unseen -> identical scores -> smallest label
    assert got[12] == ("ham", q(2 / 4) + 2 * q(1 / 16))


def test_roc_auc_matches_brute_force_pair_count(spark):
    """Exact midrank AUC == the O(n_pos * n_neg) pair count on a random
    integer-scored sample with heavy ties, plus the hand case and the
    one-class degenerate (NULL, not divide-by-zero)."""
    import random

    from rearview_spark.operators.evaluation import roc_auc

    rng = random.Random(13)
    rows = [(rng.randint(0, 1), rng.randint(0, 9)) for _ in range(300)]
    df = spark.createDataFrame(rows, "y int, s long")
    got = roc_auc(df, "y", "s").collect()[0]
    pos = [s for y, s in rows if y == 1]
    neg = [s for y, s in rows if y == 0]
    num2 = sum(
        2 if p > n else (1 if p == n else 0) for p in pos for n in neg
    )
    assert (got["n_pos"], got["n_neg"], got["auc_num2"]) == (
        len(pos), len(neg), num2,
    )
    assert got["auc"] == num2 / (2 * len(pos) * len(neg))

    one_class = spark.createDataFrame([(1, 3), (1, 5)], "y int, s long")
    assert roc_auc(one_class, "y", "s").collect()[0]["auc"] is None


def test_precision_recall_curve_matches_brute_force(spark):
    """Every emitted threshold row equals the brute-force evaluation of
    'keep score >= t' on a tied, random integer-scored sample."""
    import random

    from rearview_spark.operators.evaluation import precision_recall_curve

    rng = random.Random(7)
    rows = [(rng.randint(0, 1), rng.randint(0, 6)) for _ in range(200)]
    df = spark.createDataFrame(rows, "y int, s long")
    got = {
        r["threshold"]: (r["tp"], r["fp"], r["fn"], r["precision"], r["recall"], r["f1"])
        for r in precision_recall_curve(df, "y", "s").collect()
    }
    thresholds = sorted({s for _, s in rows})
    assert set(got) == set(thresholds)
    for t in thresholds:
        tp = sum(1 for y, s in rows if y == 1 and s >= t)
        fp = sum(1 for y, s in rows if y == 0 and s >= t)
        fn = sum(1 for y, s in rows if y == 1 and s < t)
        want = (
            tp, fp, fn,
            tp / (tp + fp) if tp + fp else None,
            tp / (tp + fn) if tp + fn else None,
            2 * tp / (2 * tp + fp + fn) if 2 * tp + fp + fn else None,
        )
        assert got[t] == want, (t, got[t], want)


def test_classification_report_hand_computed(spark):
    """Per-class counts/ratios on a hand confusion, including a class
    that appears only in predictions (support 0, NULL recall) and one
    only in labels (fp 0, NULL precision when never predicted)."""
    from rearview_spark.operators.evaluation import classification_report

    rows = (
        [("a", "a")] * 3 + [("a", "b")] * 2   # a: tp=3 fn=2
        + [("b", "b")] * 4                     # b: tp=4 fp=2 fn=0
        + [("c", "b"), ("c", "d")]             # c: never predicted; d: pred-only
    )
    df = spark.createDataFrame(rows, "y string, p string")
    got = {
        r["class"]: (r["support"], r["tp"], r["fp"], r["fn"], r["precision"], r["recall"], r["f1"])
        for r in classification_report(df, "y", "p").collect()
    }
    assert got["a"] == (5, 3, 0, 2, 1.0, 3 / 5, 6 / 8)
    assert got["b"] == (4, 4, 3, 0, 4 / 7, 1.0, 8 / 11)
    assert got["c"] == (2, 0, 0, 2, None, 0.0, 0.0)
    assert got["d"] == (0, 0, 1, 0, 0.0, None, 0.0)


def test_poisson_bootstrap_weights_and_ci(spark):
    """The deterministic Poisson(1) weights have the right first two
    moments (mean ~1, var ~1 over many draws), are identical across
    calls (no RNG), and the bootstrap CI brackets the full mean with a
    width near 2 * 1.96 * sd/sqrt(n) on a known distribution."""
    import math

    from pyspark.sql import functions as F

    from rearview_spark.operators.stats import (
        _POISSON1_CDF_PPB,
        bootstrap_mean_ci,
        bootstrap_replica_means,
        poisson1_weight,
    )

    # thresholds are the quantized Poisson(1) CDF, hand-checked
    assert _POISSON1_CDF_PPB[0] == int(math.exp(-1) * 1e9)
    assert _POISSON1_CDF_PPB[1] == int(2 * math.exp(-1) * 1e9)
    assert len(_POISSON1_CDF_PPB) == 9

    df = spark.range(0, 4000).select("id", F.lit(0).alias("replica"))
    w = df.select(poisson1_weight(F.col("id"), F.col("replica"), "t").alias("w"))
    stats = w.agg(
        F.avg("w").alias("m"), F.var_pop("w").alias("v"),
        F.min("w").alias("lo"), F.max("w").alias("hi"),
    ).collect()[0]
    assert abs(stats["m"] - 1.0) < 0.06 and abs(stats["v"] - 1.0) < 0.1
    assert stats["lo"] >= 0 and stats["hi"] <= 9

    data = spark.range(0, 3000).select(
        "id", ((F.col("id") * 37) % 100).cast("double").alias("v")
    )
    ci = bootstrap_mean_ci(data, "id", "v", replicas=100).collect()[0]
    assert ci["ci_lo"] < ci["mean_full"] < ci["ci_hi"]
    width = ci["ci_hi"] - ci["ci_lo"]
    se = 28.87 / math.sqrt(3000)
    assert 0.4 * (2 * 1.96 * se) < width < 2.5 * (2 * 1.96 * se)

    # determinism: same inputs -> bit-identical replica means
    a = sorted(r["mean"] for r in bootstrap_replica_means(data, "id", "v", 20).collect())
    b = sorted(r["mean"] for r in bootstrap_replica_means(data, "id", "v", 20).collect())
    assert a == b

    import pytest as _pt

    with _pt.raises(ValueError, match="replicas"):
        bootstrap_replica_means(data, "id", "v", replicas=0)


def test_evaluation_and_classify_guards(spark):
    """Edge guards pre-empting the ADVICE class of bug: non-binary /
    NULL labels fail at execution in roc_auc and the PR curve; NULL
    classes fail in classification_report; nb_train rejects alpha < 1
    and an empty corpus; bootstrap rejects cents_scale < 1."""
    import pytest as _pt

    from rearview_spark.operators.classify import nb_train
    from rearview_spark.operators.evaluation import (
        classification_report,
        precision_recall_curve,
        roc_auc,
    )
    from rearview_spark.operators.stats import bootstrap_replica_means

    bad = spark.createDataFrame([(2, 5), (1, 3)], "y int, s long")
    with _pt.raises(Exception, match="0/1"):
        roc_auc(bad, "y", "s").collect()
    with _pt.raises(Exception, match="0/1"):
        precision_recall_curve(bad, "y", "s").collect()

    nulls = spark.createDataFrame([("a", None), ("a", "a")], "y string, p string")
    with _pt.raises(Exception, match="non-null"):
        classification_report(nulls, "y", "p").collect()

    docs = spark.createDataFrame([(1, "x y", "l")], "doc_id long, text string, lab string")
    with _pt.raises(ValueError, match="alpha"):
        nb_train(docs, "lab", alpha=0)
    with _pt.raises(ValueError, match="empty corpus"):
        nb_train(docs.filter("doc_id < 0"), "lab")
    with _pt.raises(ValueError, match="cents_scale"):
        bootstrap_replica_means(docs, "doc_id", "doc_id", cents_scale=0)


def test_ks_two_sample_hand_computed(spark):
    # a = {1,2,3}, b = {2,3,4}: at every v in {1,2,3} the CDF gap is
    # 1/3 (d_num = 3 with n_a = n_b = 3); at v=4 it closes to 0. The
    # argmax tie resolves to the SMALLEST value (v=1).
    from rearview_spark.operators.anomaly import ks_two_sample

    rows = [(1.0, 0), (2.0, 0), (3.0, 0), (2.0, 1), (3.0, 1), (4.0, 1)]
    df = spark.createDataFrame(rows, "v double, grp int")
    r = ks_two_sample(df, "v", "grp").collect()[0]
    assert (r["n_a"], r["n_b"], r["d_num"]) == (3, 3, 3)
    assert abs(r["d_stat"] - 1 / 3) < 1e-12
    assert r["at_value"] == 1.0

    # identical samples: D = 0
    same = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (1.0, 1), (2.0, 1)], "v double, grp int"
    )
    r0 = ks_two_sample(same, "v", "grp").collect()[0]
    assert r0["d_num"] == 0 and r0["d_stat"] == 0.0

    # one empty side: d_stat NULL (undefined), not a crash
    one_sided = spark.createDataFrame([(1.0, 0), (2.0, 0)], "v double, grp int")
    r1 = ks_two_sample(one_sided, "v", "grp").collect()[0]
    assert r1["n_b"] == 0 and r1["d_stat"] is None

    # non-binary group fails at execution
    import pytest
    from py4j.protocol import Py4JJavaError
    bad = spark.createDataFrame([(1.0, 2)], "v double, grp int")
    with pytest.raises(Exception):
        ks_two_sample(bad, "v", "grp").collect()


def test_calibration_bins_hand_computed(spark):
    # scores 0..9, positives exactly at scores >= 5, bins=5 -> each bin
    # spans 2 scores; bins 0-1 pure negative, 3-4 pure positive.
    from rearview_spark.operators.evaluation import calibration_bins

    rows = [(s, 1 if s >= 5 else 0) for s in range(10)]
    df = spark.createDataFrame(rows, "s int, y int")
    out = calibration_bins(df, "y", "s", bins=5).collect()
    assert [r["bin"] for r in out] == [0, 1, 2, 3, 4]
    assert all(r["n"] == 2 for r in out)
    assert [r["n_pos"] for r in out] == [0, 0, 1, 2, 2]
    assert [r["pos_rate"] for r in out] == [0.0, 0.0, 0.5, 1.0, 1.0]
    assert out[0]["lo"] == 0 and out[0]["hi"] == 1
    assert out[0]["avg_score"] == 0.5

    # all-equal scores collapse into bin 0, never divide by zero
    flat = spark.createDataFrame([(7, 1), (7, 0)], "s int, y int")
    one = calibration_bins(flat, "y", "s", bins=10).collect()
    assert len(one) == 1 and one[0]["bin"] == 0 and one[0]["n"] == 2

    import pytest
    with pytest.raises(ValueError):
        calibration_bins(df, "y", "s", bins=0)


def test_cumulative_gains_hand_computed(spark):
    # 10 rows ranked by score desc: positives sit at the top 3 scores.
    # With 5 buckets of 2: bucket 0 captures 2/3, bucket 1 the last one.
    from rearview_spark.operators.evaluation import cumulative_gains

    rows = [(i, 10 - i, 1 if i < 3 else 0) for i in range(10)]
    df = spark.createDataFrame(rows, "id int, s int, y int")
    out = cumulative_gains(df, "y", "s", "id", n_bins=5).collect()
    assert [r["bucket"] for r in out] == [0, 1, 2, 3, 4]
    assert [r["n_pos"] for r in out] == [2, 1, 0, 0, 0]
    assert [r["cum_pos"] for r in out] == [2, 3, 3, 3, 3]
    assert abs(out[0]["gain"] - 2 / 3) < 1e-12
    # lift of the top bucket: (2/2) / (3/10) = 10/3
    assert abs(out[0]["lift"] - 10 / 3) < 1e-12
    # final bucket: gain 1.0, lift 1.0 by construction
    assert out[-1]["gain"] == 1.0 and out[-1]["lift"] == 1.0

    # tied scores split deterministically by the id tiebreak
    tied = spark.createDataFrame(
        [(1, 5, 1), (2, 5, 0), (3, 5, 1), (4, 5, 0)], "id int, s int, y int"
    )
    t = cumulative_gains(tied, "y", "s", "id", n_bins=2).collect()
    assert [r["n_pos"] for r in t] == [1, 1]  # ids (1,2) then (3,4)

    # empty input -> zero rows with the declared schema
    empty = spark.createDataFrame([], "id int, s int, y int")
    e = cumulative_gains(empty, "y", "s", "id", n_bins=5)
    assert e.count() == 0 and "lift" in e.columns


def test_chi2_tokens_hand_computed(spark):
    # 4 docs, 2 labels. 'x' appears in both A docs and neither B doc:
    # a=2 b=0 c=0 d=2, adbc=4, chi2 = 4*16/(2*2*2*2) = 4.0 — the top
    # feature for BOTH labels (chi2 is unsigned association). 'y' is
    # split evenly (chi2 = 0); 'z'/'w' score 4/3.
    from rearview_spark.operators.classify import chi2_tokens

    rows = [
        (1, "A", "x y"),
        (2, "A", "x z"),
        (3, "B", "y z"),
        (4, "B", "z w"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, lab string, text string")
    out = chi2_tokens(df, "lab", k=2).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
    # full label x vocab cross: 'w' (absent from A — an anti-feature
    # cell, a=0) ties 'z' at 4/3 and wins the ascending-token tiebreak
    assert [r["token"] for r in by_label["A"]] == ["x", "w"]
    assert by_label["A"][0]["chi2"] == 4.0
    assert abs(by_label["A"][1]["chi2"] - 4 / 3) < 1e-12
    # B: x first (chi2=4 via its a=0 anti-cell), then the w/z tie -> 'w'
    assert [r["token"] for r in by_label["B"]] == ["x", "w"]
    assert by_label["B"][0]["df_in_label"] == 0  # anti-associated
    # presence, not frequency: repeating a token in one doc changes nothing
    rep = spark.createDataFrame(
        [(1, "A", "x x x y"), (2, "A", "x z"), (3, "B", "y z"), (4, "B", "z w")],
        "doc_id int, lab string, text string",
    )
    out2 = chi2_tokens(rep, "lab", k=2).collect()
    assert [(r["label"], r["token"], r["chi2"]) for r in out2] == [
        (r["label"], r["token"], r["chi2"]) for r in out
    ]

    import pytest
    with pytest.raises(ValueError):
        chi2_tokens(df, "lab", k=0)
    with pytest.raises(ValueError):
        chi2_tokens(df, "lab", min_df=0)


def test_source_js_divergence_hand_corpus(spark):
    import math
    from rearview_spark.operators.text import source_js_divergence

    # disjoint vocabularies: JS hits its ln(2) ceiling for both sources
    rows = [("a", "x x"), ("b", "y y")]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r["source"]: r["js"] for r in source_js_divergence(df).collect()}
    assert abs(out["a"] - math.log(2)) < 1e-6
    assert abs(out["b"] - math.log(2)) < 1e-6

    # identical distributions: JS = 0
    same = spark.createDataFrame(
        [("a", "x y"), ("b", "x y")], "source string, text string"
    )
    z = {r["source"]: r["js"] for r in source_js_divergence(same).collect()}
    assert z == {"a": 0.0, "b": 0.0}

    # a single-source corpus has no complement: zero rows, not a crash
    single = spark.createDataFrame([("a", "x y")], "source string, text string")
    assert source_js_divergence(single).count() == 0


def test_equi_depth_histogram_hand_computed(spark):
    from rearview_spark.operators.profiling import equi_depth_histogram

    # 10 rows into 4 buckets: populations 3,2,3,2 (the ((rn-1)*B) div N
    # cut); bounds are exact picks. NULLs excluded.
    rows = [(i, float(i)) for i in range(1, 11)] + [(99, None)]
    df = spark.createDataFrame(rows, "id int, v double")
    out = equi_depth_histogram(df, "v", "id", buckets=4).collect()
    assert [r["bucket"] for r in out] == [0, 1, 2, 3]
    assert [r["n"] for r in out] == [3, 2, 3, 2]
    assert out[0]["lo"] == 1.0 and out[0]["hi"] == 3.0
    assert out[-1]["lo"] == 9.0 and out[-1]["hi"] == 10.0
    assert sum(r["n"] for r in out) == 10

    # ties split deterministically by the id tiebreak, never dropped
    tied = spark.createDataFrame(
        [(i, 5.0) for i in range(1, 7)], "id int, v double"
    )
    t = equi_depth_histogram(tied, "v", "id", buckets=3).collect()
    assert [r["n"] for r in t] == [2, 2, 2]
    assert all(r["lo"] == 5.0 and r["hi"] == 5.0 for r in t)

    # empty input -> zero rows; bad bucket count raises
    import pytest
    empty = spark.createDataFrame([], "id int, v double")
    assert equi_depth_histogram(empty, "v", "id").count() == 0
    with pytest.raises(ValueError):
        equi_depth_histogram(df, "v", "id", buckets=0)


def test_two_proportion_ztest_hand_computed(spark):
    import math
    from rearview_spark.operators.stats import two_proportion_ztest

    # control: 2/4 convert; treatment: 3/4 convert.
    rows = [(0, 1), (0, 1), (0, 0), (0, 0), (1, 1), (1, 1), (1, 1), (1, 0)]
    df = spark.createDataFrame(rows, "grp int, y int")
    r = two_proportion_ztest(df, "grp", "y").collect()[0]
    assert (r["n0"], r["n1"], r["conv0"], r["conv1"]) == (4, 4, 2, 3)
    assert r["rate0"] == 0.5 and r["rate1"] == 0.75
    p = 5 / 8
    want = (0.75 - 0.5) / math.sqrt(p * (1 - p) * (1 / 4 + 1 / 4))
    assert abs(r["z"] - want) < 1e-12

    # degenerate pooled rate (all convert): z NULL, counts still exact
    allc = spark.createDataFrame([(0, 1), (1, 1)], "grp int, y int")
    r1 = two_proportion_ztest(allc, "grp", "y").collect()[0]
    assert r1["z"] is None and r1["rate0"] == 1.0

    # one empty variant: z and diff NULL
    onev = spark.createDataFrame([(1, 1), (1, 0)], "grp int, y int")
    r2 = two_proportion_ztest(onev, "grp", "y").collect()[0]
    assert r2["n0"] == 0 and r2["z"] is None and r2["diff"] is None

    # non-binary group fails at execution
    import pytest
    bad = spark.createDataFrame([(3, 1)], "grp int, y int")
    with pytest.raises(Exception):
        two_proportion_ztest(bad, "grp", "y").collect()


def test_kaplan_meier_hand_computed(spark):
    from rearview_spark.operators.stats import kaplan_meier

    # classic worked example: events at t=1,2,3; censorings at 2 and 4.
    # S(1)=4/5, S(2)=4/5*3/4=0.6, S(3)=0.6*1/2=0.3 (the t=2 censoring
    # exits AFTER the t=2 step; the t=4 censoring never steps).
    rows = [(1, 1), (2, 1), (2, 0), (3, 1), (4, 0)]
    df = spark.createDataFrame(rows, "dur int, evt int")
    out = kaplan_meier(df, "dur", "evt").collect()
    got = [(r["t"], r["n_risk"], r["d"], r["c"], r["survival"]) for r in out]
    assert got == [(1, 5, 1, 0, 0.8), (2, 4, 1, 1, 0.6), (3, 2, 1, 0, 0.3)]

    # risk set dying out -> survival exactly 0.0 on the last step
    dead = spark.createDataFrame([(1, 1), (1, 1)], "dur int, evt int")
    d = kaplan_meier(dead, "dur", "evt").collect()
    assert len(d) == 1 and d[0]["survival"] == 0.0 and d[0]["n_risk"] == 2

    # all censored -> no event rows at all
    cens = spark.createDataFrame([(1, 0), (2, 0)], "dur int, evt int")
    assert kaplan_meier(cens, "dur", "evt").count() == 0

    # guards fail at execution: negative duration, non-binary event
    import pytest
    with pytest.raises(Exception):
        kaplan_meier(
            spark.createDataFrame([(-1, 1)], "dur int, evt int"), "dur", "evt"
        ).collect()
    with pytest.raises(Exception):
        kaplan_meier(
            spark.createDataFrame([(1, 2)], "dur int, evt int"), "dur", "evt"
        ).collect()


def test_vocab_growth_hand_computed(spark):
    from rearview_spark.operators.text import vocab_growth

    # 4 docs, 2 halves: a/b/c first appear in docs 1-2, d only in doc 4
    rows = [(1, "a b"), (2, "a c"), (3, "b c"), (4, "d")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = vocab_growth(df, deciles=2).collect()
    got = [
        (r["decile"], r["docs_processed"], r["new_tokens"], r["vocab_size"])
        for r in out
    ]
    assert got == [(0, 2, 3, 3), (1, 4, 1, 4)]

    # saturated corpus: every token seen in the first decile slice
    sat = spark.createDataFrame(
        [(i, "x y") for i in range(1, 11)], "doc_id int, text string"
    )
    s = vocab_growth(sat, deciles=10).collect()
    assert len(s) == 1 and s[0]["decile"] == 0 and s[0]["vocab_size"] == 2

    # empty corpus -> zero rows; bad deciles raises
    import pytest
    empty = spark.createDataFrame([], "doc_id int, text string")
    assert vocab_growth(empty).count() == 0
    with pytest.raises(ValueError):
        vocab_growth(df, deciles=0)


def test_zipf_fit_recovers_planted_exponent(spark):
    import math
    from rearview_spark.operators.text import zipf_fit

    # plant an exact Zipf-like corpus: token k repeated round(1000/k)
    # times -> ln(count) ~ ln(1000) - 1.0 * ln(rank)
    rows = []
    doc = []
    for k in range(1, 51):
        doc.extend([f"tok{k:03d}"] * round(1000 / k))
    rows.append((1, " ".join(doc)))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    r = zipf_fit(df).collect()[0]
    assert r["n_ranks"] == 50
    assert abs(r["slope"] - (-1.0)) < 0.01
    assert abs(r["intercept"] - math.log(1000)) < 0.05

    # fewer than two ranks: no line, NULL slope
    flat = spark.createDataFrame([(1, "a a a")], "doc_id int, text string")
    f = zipf_fit(flat).collect()[0]
    assert f["n_ranks"] == 1 and f["slope"] is None and f["intercept"] is None


def test_burstiness_fano_hand_computed(spark):
    from rearview_spark.operators.behavior import burstiness_fano

    # grid spans buckets 0..3 (H=4, zeros included via the closed form).
    # A: 3 events in bucket 0, 1 in bucket 3 -> fano (4*10-16)/(4*4)=1.5
    # B: 1 event each in buckets 1,2       -> fano (4*2-4)/(4*2)=0.5
    rows = [
        ("A", 0), ("A", 10), ("A", 20), ("A", 3 * 3600),
        ("B", 3600), ("B", 2 * 3600),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts long")
    out = {r["kind"]: r for r in burstiness_fano(df).collect()}
    assert out["A"]["n_buckets"] == 4 and out["A"]["n_events"] == 4
    assert out["A"]["mean_per_bucket"] == 1.0 and out["A"]["fano"] == 1.5
    assert out["B"]["fano"] == 0.5

    # a perfectly regular stream: one event per bucket -> fano 0... no:
    # var of constant 1 over all-occupied grid = 0 -> fano 0
    reg = spark.createDataFrame(
        [("C", h * 3600) for h in range(6)], "event_type string, ts long"
    )
    r = burstiness_fano(reg).collect()[0]
    assert r["fano"] == 0.0 and r["mean_per_bucket"] == 1.0

    import pytest
    with pytest.raises(ValueError):
        burstiness_fano(df, bucket_seconds=0)


def test_dedup_savings_hand_computed(spark):
    from rearview_spark.operators.dedup import dedup_savings

    # two identical docs (one dup group) + one unique: keep the larger
    # member, remove the smaller's chars
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", 44),
        (2, "the quick brown fox jumps over the lazy dog", 44),
        (3, "completely different text with no overlap at all", 49),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, n_chars int")
    r = dedup_savings(df, threshold=0.5).collect()[0]
    assert (r["n_docs"], r["chars_total"]) == (3, 137)
    assert (r["n_dup_groups"], r["n_dup_members"]) == (1, 2)
    assert r["chars_removed"] == 44
    assert abs(r["frac_removed"] - 44 / 137) < 1e-12

    # no duplicates: zeros, not NULLs
    uniq = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", 35),
         (2, "one two three four five six seven", 33)],
        "doc_id int, text string, n_chars int",
    )
    z = dedup_savings(uniq, threshold=0.5).collect()[0]
    assert (z["n_dup_groups"], z["n_dup_members"], z["chars_removed"]) == (0, 0, 0)
    assert z["frac_removed"] == 0.0


def test_minhash_estimate_error_identical_docs_zero(spark):
    from rearview_spark.operators.dedup import minhash_estimate_error

    # identical docs: signatures match in every position AND exact
    # jaccard is 1 -> the candidate pair's error is exactly 0
    txt = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, txt), (2, txt)], "doc_id int, text string"
    )
    r = minhash_estimate_error(df).collect()[0]
    assert r["n_pairs"] == 1
    assert r["mean_abs_err"] == 0.0
    assert r["p50_abs_err"] == 0.0 and r["max_abs_err"] == 0.0

    # error is bounded by 1 and the summary stays ordered
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "alpha beta gamma delta epsilon zeta mu nu"),
    ]
    df2 = spark.createDataFrame(rows, "doc_id int, text string")
    r2 = minhash_estimate_error(df2).collect()[0]
    if r2["n_pairs"] > 0:
        assert 0.0 <= r2["p50_abs_err"] <= r2["p90_abs_err"] <= r2["max_abs_err"] <= 1.0
        assert 0.0 <= r2["mean_abs_err"] <= 1.0

    # no candidate pairs: count 0, NULL errors, no crash
    disj = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "seven eight nine ten eleven twelve")],
        "doc_id int, text string",
    )
    r3 = minhash_estimate_error(disj).collect()[0]
    assert r3["n_pairs"] == 0 and r3["mean_abs_err"] is None


def test_winsorize_summary_hand_computed(spark):
    from rearview_spark.operators.quantiles import winsorize_summary

    # 10 values 1..10, clamp at p10/p90: bounds are ranks ceil(1)=1 and
    # ceil(9)=9 -> lo=1, hi=9; only the 10 clips (to 9)
    rows = [(i, float(i)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "id int, v double")
    r = winsorize_summary(df, "v", "id", lower=0.1, upper=0.9).collect()[0]
    assert (r["lo_bound"], r["hi_bound"]) == (1.0, 9.0)
    assert (r["n_clipped_low"], r["n_clipped_high"]) == (0, 1)
    assert r["mean_before"] == 5.5
    assert r["mean_after"] == 5.4  # 10 -> 9 drops the mean by 0.1

    import pytest
    with pytest.raises(ValueError):
        winsorize_summary(df, "v", "id", lower=0.9, upper=0.1)


def test_calibration_bins_excludes_null_scores(spark):
    from rearview_spark.operators.evaluation import calibration_bins

    rows = [(0, 1), (9, 0), (None, 1), (None, 0)]
    df = spark.createDataFrame(rows, "s int, y int")
    out = calibration_bins(df, "y", "s", bins=2).collect()
    # no bin=NULL junk row; only the two real scores bin
    assert [r["bin"] for r in out] == [0, 1]
    assert sum(r["n"] for r in out) == 2


def test_equi_depth_histogram_empty_schema_matches(spark):
    from rearview_spark.operators.profiling import equi_depth_histogram

    full = spark.createDataFrame([(1, 5)], "id int, v int")
    empty = spark.createDataFrame([], "id int, v int")
    a = equi_depth_histogram(full, "v", "id")
    b = equi_depth_histogram(empty, "v", "id")
    assert b.count() == 0
    # lo/hi keep the value column's own type in BOTH paths
    assert [f.dataType for f in a.schema.fields] == [
        f.dataType for f in b.schema.fields
    ]


def test_slo_burn_rate_hand_computed(spark):
    from rearview_spark.operators.anomaly import slo_burn_rate

    # 8 hourly buckets; bucket 6 is an outage (4/4 errors), bucket 7
    # recovers. short=1h long=2h budget=0.5: page exactly at bucket 6
    # (burn_short = 1/0.5 = 2, burn_long = (4+0)/(4+4)/0.5 = 1.0... use
    # denser errors so both exceed 1)
    rows = []
    for b in range(8):
        for i in range(4):
            # buckets 5 and 6: all errors; others clean
            kind = "error" if b in (5, 6) else "view"
            rows.append((b * 3600 + i, kind))
    df = spark.createDataFrame(rows, "ts long, event_type string")
    out = slo_burn_rate(
        df, short_windows=1, long_windows=2, budget=0.5
    ).collect()
    by = {r["bucket"]: r for r in out}
    # full windows only: bucket 1 is the FIRST with 2 fully-observed
    # buckets (its prefix row is the implicit zero before the grid);
    # bucket 0 has a partial long window and emits nothing
    assert min(by) == 1 and max(by) == 7
    assert by[1]["n_long"] == 8 and by[1]["err_long"] == 0
    # bucket 6: short window = bucket 6 (4/4 err) -> burn 2.0;
    # long = buckets 5-6 (8/8) -> burn 2.0; pages
    assert by[6]["burn_short"] == 2.0 and by[6]["burn_long"] == 2.0
    assert by[6]["page"] is True
    # bucket 5: short 4/4 -> 2.0, long (0+4)/8 -> 1.0 (not > 1): no page
    assert by[5]["burn_short"] == 2.0 and by[5]["burn_long"] == 1.0
    assert by[5]["page"] is False
    # bucket 7 recovered: short burn 0, no page
    assert by[7]["burn_short"] == 0.0 and by[7]["page"] is False
    # clean buckets never page
    assert not by[2]["page"] and not by[3]["page"]

    import pytest
    with pytest.raises(ValueError):
        slo_burn_rate(df, budget=0.0)
    with pytest.raises(ValueError):
        slo_burn_rate(df, short_windows=6, long_windows=6)


def test_column_entropy_hand_computed(spark):
    import math
    from rearview_spark.operators.profiling import column_entropy

    # const: entropy 0 (norm NULL); uniform4: ln(4), norm 1.0;
    # skewed (3:1): -(0.75 ln 0.75 + 0.25 ln 0.25), norm < 1
    rows = [
        (1.0, 1.0, 1.0),
        (1.0, 2.0, 1.0),
        (1.0, 3.0, 2.0),
        (1.0, 4.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "const double, uni double, skew double")
    out = {r["col_name"]: r for r in column_entropy(df, ["const", "uni", "skew"]).collect()}
    assert out["const"]["entropy"] == 0.0 and out["const"]["norm_entropy"] is None
    assert abs(out["uni"]["entropy"] - math.log(4)) < 1e-6
    assert abs(out["uni"]["norm_entropy"] - 1.0) < 1e-6
    want = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert abs(out["skew"]["entropy"] - want) < 1e-6
    assert 0 < out["skew"]["norm_entropy"] < 1
    assert out["skew"]["n_distinct"] == 2 and out["skew"]["n"] == 4


def test_source_vocab_overlap_hand_computed(spark):
    from rearview_spark.operators.text import source_vocab_overlap

    # a={x,y}, b={y,z}, c={q} -> (a,b): inter 1, union 3; pairs with c
    # share nothing but still appear with jaccard 0
    rows = [("a", "x y"), ("b", "y z"), ("c", "q")]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r["source_a"], r["source_b"]): r for r in source_vocab_overlap(df).collect()}
    assert len(out) == 3  # total matrix: ab, ac, bc
    ab = out[("a", "b")]
    assert (ab["vocab_a"], ab["vocab_b"], ab["inter"]) == (2, 2, 1)
    assert abs(ab["jaccard"] - 1 / 3) < 1e-12
    assert out[("a", "c")]["inter"] == 0 and out[("a", "c")]["jaccard"] == 0.0
    assert out[("b", "c")]["jaccard"] == 0.0


def test_sq8_error_audit_hand_computed(spark):
    from rearview_spark.operators.similarity import sq8_error_audit

    # bounds [0, 256] per dim -> bucket width 1, centers at k + 0.5:
    # the all-0 and all-256 vectors miss their centers by exactly 0.5;
    # the all-10.5 vector sits ON a center (error 0)
    rows = [
        (1, [0.0, 0.0]),
        (2, [256.0, 256.0]),
        (3, [10.5, 10.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    r = sq8_error_audit(df).collect()[0]
    assert r["n_vectors"] == 3
    assert r["p50_rmse"] == 0.5 and r["max_rmse"] == 0.5
    assert abs(r["mean_rmse"] - 1 / 3) < 1e-6
    # a vector exactly on a bucket center reconstructs perfectly,
    # so the minimum error is 0 -> p50 < mean would fail; instead
    # assert the zero is really there via the mean arithmetic above


def test_ks_two_sample_by_matches_global_per_key(spark):
    from rearview_spark.operators.anomaly import ks_two_sample, ks_two_sample_by

    rows = (
        [("A", 1.0, 0), ("A", 2.0, 0), ("A", 3.0, 0),
         ("A", 2.0, 1), ("A", 3.0, 1), ("A", 4.0, 1)]
        + [("B", 5.0, 0), ("B", 5.0, 1)]           # identical: D = 0
        + [("C", 1.0, 0)]                          # one-sided: NULL
    )
    df = spark.createDataFrame(rows, "k string, v double, grp int")
    by = {r["key"]: r for r in ks_two_sample_by(df, "v", "grp", "k").collect()}
    # segment A equals the global operator run on A alone
    ga = ks_two_sample(df.filter("k = 'A'"), "v", "grp").collect()[0]
    assert (by["A"]["d_num"], by["A"]["d_stat"], by["A"]["at_value"]) == (
        ga["d_num"], ga["d_stat"], ga["at_value"],
    )
    assert by["B"]["d_num"] == 0 and by["B"]["d_stat"] == 0.0
    assert by["C"]["n_b"] == 0 and by["C"]["d_stat"] is None


def test_benford_first_digit_hand_computed(spark):
    import math
    from rearview_spark.operators.profiling import benford_first_digit

    # digits extracted from the exact decimal rendering: 123.4 -> 1,
    # 0.00456 -> 4 (leading zeros skipped), 9000 -> 9; zero/negative/
    # NULL excluded
    rows = [(123.4,), (0.00456,), (9000.0,), (0.0,), (-5.0,), (None,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in benford_first_digit(df, "v").collect()}
    assert len(out) == 9  # all digits 1-9 present, zero-count included
    assert out[1]["n_obs"] == 1 and out[4]["n_obs"] == 1 and out[9]["n_obs"] == 1
    assert out[2]["n_obs"] == 0
    assert abs(out[1]["p_expected"] - math.log10(2)) < 1e-15
    # contribution of an unobserved digit is n*p (obs=0)
    n = 3
    want = (0 - n * out[2]["p_expected"]) ** 2 / (n * out[2]["p_expected"])
    assert abs(out[2]["contrib"] - want) < 1e-9
    # a perfectly Benford-weighted sample has near-zero contributions
    # (spot: observed exactly n*p is impossible with n=3, skip)


def test_stickiness_dau_wau_hand_computed(spark):
    from rearview_spark.operators.behavior import stickiness_dau_wau

    # u1 active day 0; u2 active days 0 and 8 (window 7):
    # day 6: WAU={u1,u2}, DAU=0 -> 0.0; day 7: nobody in window -> NULL;
    # day 8: WAU={u2}, DAU={u2} -> 1.0
    D = 86400
    rows = [(1, 0), (2, 10), (2, 8 * D + 5)]
    df = spark.createDataFrame(rows, "user_id int, ts long")
    out = {r["day"]: r for r in stickiness_dau_wau(df).collect()}
    assert sorted(out) == [6, 7, 8]
    assert out[6]["dau"] == 0 and out[6]["wau"] == 2 and out[6]["stickiness"] == 0.0
    assert out[7]["wau"] == 0 and out[7]["stickiness"] is None
    assert out[8]["dau"] == 1 and out[8]["wau"] == 1 and out[8]["stickiness"] == 1.0

    import pytest
    with pytest.raises(ValueError):
        stickiness_dau_wau(df, window_days=0)
    with pytest.raises(Exception):
        stickiness_dau_wau(
            spark.createDataFrame([(1, -5)], "user_id int, ts long")
        ).collect()


def test_cohort_retention_hand_computed(spark):
    """Three users, bucket_seconds=10: u1 cohorts at bucket 0 (active
    0, 1, 3), u2 and u3 at bucket 1 (u2 active 1, 2; u3 active 1) —
    every cell count and rate checked by hand, max_offset prunes."""
    from rearview_spark.operators.behavior import cohort_retention

    rows = [
        ("u1", 1), ("u1", 5), ("u1", 12), ("u1", 33),
        ("u2", 11), ("u2", 22),
        ("u3", 15),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts long")
    got = [
        tuple(r)
        for r in cohort_retention(df, bucket_seconds=10).collect()
    ]
    assert got == [
        (0, 0, 1, 1, 1.0),
        (0, 1, 1, 1, 1.0),
        (0, 3, 1, 1, 1.0),
        (1, 0, 2, 2, 1.0),
        (1, 1, 2, 1, 0.5),
    ]
    pruned = [
        tuple(r)
        for r in cohort_retention(df, bucket_seconds=10, max_offset=1).collect()
    ]
    assert pruned == [
        (0, 0, 1, 1, 1.0),
        (0, 1, 1, 1, 1.0),
        (1, 0, 2, 2, 1.0),
        (1, 1, 2, 1, 0.5),
    ]
    import pytest as _pytest

    neg = spark.createDataFrame([("u", -5)], "user_id string, ts long")
    with _pytest.raises(Exception, match="negative epoch"):
        cohort_retention(neg, bucket_seconds=10).collect()


def test_pareto_share_hand_computed(spark):
    """Keys with counts 5/3/1/1 into 2 buckets: top half carries 8 of
    10 rows (share 0.8), the rest closes at 1.0."""
    from rearview_spark.operators.behavior import pareto_share

    rows = (
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1 + [("d",)] * 1
    )
    df = spark.createDataFrame(rows, "user_id string")
    got = [tuple(r) for r in pareto_share(df, n_buckets=2).collect()]
    assert got == [
        (0, 2, 8, 2, 8, 0.8),
        (1, 2, 2, 4, 10, 1.0),
    ]


def test_interarrival_summary_hand_computed(spark):
    """Gaps {10, 0, 30} from one user plus {1} from another, one kind:
    n=4, mean 10.25, sorted gaps [0, 1, 10, 30] give p50 rank
    (4+1)div2=2 -> 1 and p90 rank (36+9)div10=4 -> 30; a
    single-event kind emits nothing."""
    from rearview_spark.operators.behavior import interarrival_summary

    rows = [
        ("u1", "x", 0), ("u1", "x", 10), ("u1", "x", 10), ("u1", "x", 40),
        ("u2", "x", 5), ("u2", "x", 6),
        ("u9", "y", 7),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts long")
    got = [tuple(r) for r in interarrival_summary(df).collect()]
    assert got == [("x", 4, 10.25, 1, 30, 30)]


def test_correlation_matrix_hand_computed(spark):
    """y = 2x gives corr exactly 1.0; a zero-variance column yields
    NULL; the NULL-bearing row is listwise-deleted (n = 3 everywhere)."""
    from rearview_spark.operators.profiling import correlation_matrix

    rows = [
        (1.0, 2.0, 7.0),
        (2.0, 4.0, 7.0),
        (3.0, 6.0, 7.0),
        (None, 1.0, 7.0),
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = [tuple(r) for r in correlation_matrix(df, ["x", "y", "z"]).collect()]
    assert [(a, b, n) for a, b, n, _ in got] == [
        ("x", "y", 3),
        ("x", "z", 3),
        ("y", "z", 3),
    ]
    # the sqrt pair costs a ulp; the oracle mirrors the identical
    # expression tree, so only the unit test needs the tolerance
    assert abs(got[0][3] - 1.0) < 1e-12
    assert got[1][3] is None and got[2][3] is None
    import pytest as _pytest

    with _pytest.raises(ValueError, match="distinct"):
        correlation_matrix(df, ["x", "x"])


def test_adamic_adar_hand_computed(spark):
    """Triangle 1-2-3 plus pendant 4 on node 1: the only scored
    non-edges are (2,4) and (3,4), each through center 1 (degree 3),
    score = round(1/ln 3, 6) = 0.910239; known edges never emit."""
    from rearview_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4)], "u long, v long"
    )
    got = [tuple(r) for r in adamic_adar(edges).collect()]
    assert got == [
        (2, 4, 1, 0.910239),
        (3, 4, 1, 0.910239),
    ]
    # max_degree below the hub's degree removes its wedges entirely
    capped = adamic_adar(edges, max_degree=2).collect()
    assert [tuple(r) for r in capped] == []


def test_forecast_accuracy_hand_computed(spark):
    """Matched points t1/t2 with errors +0.5/-1.0: n=2, MAE 0.75,
    RMSE sqrt(0.625), bias -0.25; the unmatched points on either side
    never score."""
    from rearview_spark.operators.timeseries import forecast_accuracy

    a = spark.createDataFrame(
        [("m", 1, 1.0), ("m", 2, 2.0), ("m", 3, 5.0)],
        "metric string, ts long, value double",
    )
    p = spark.createDataFrame(
        [("m", 1, 1.5), ("m", 2, 1.0), ("m", 4, 9.0)],
        "metric string, ts long, value double",
    )
    got = forecast_accuracy(a, p).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["metric"], r["n"], r["mae"], r["bias"]) == ("m", 2, 0.75, -0.25)
    assert abs(r["rmse"] - 0.625 ** 0.5) < 1e-12


def test_series_gap_audit_hand_computed(spark):
    """Metric m observed at hours {0, 1, 5}: 6 expected, 3 missing,
    longest outage 3; single-bucket metric q reads gap-free."""
    from rearview_spark.operators.timeseries import series_gap_audit

    df = spark.createDataFrame(
        [("m", 0, 0.0), ("m", 3600, 0.0), ("m", 5 * 3600, 0.0), ("q", 7200, 0.0)],
        "metric string, ts long, value double",
    )
    got = [tuple(r) for r in series_gap_audit(df).collect()]
    assert got == [
        ("m", 6, 3, 3, 3, 0.5),
        ("q", 1, 1, 0, 0, 1.0),
    ]


def test_fk_integrity_audit_hand_computed(spark):
    """Child keys {1, 2, 3, NULL} against parents {1, 2}: the missing
    key AND the null both count as orphans (rate 0.5)."""
    from rearview_spark.operators.profiling import fk_integrity_audit

    child = spark.createDataFrame([(1,), (2,), (3,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    got = [
        tuple(r)
        for r in fk_integrity_audit([("c->p", child, "fk", parent, "pk")]).collect()
    ]
    assert got == [("c->p", 4, 2, 0.5)]


def test_fd_violations_hand_computed(spark):
    """lhs 1 carries two rhs values (violating), lhs 2 one, lhs 3 only
    NULL (excluded entirely): 2 groups, 1 violating, max ndv 2."""
    from rearview_spark.operators.profiling import fd_violations

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "c"), (3, None)],
        "l int, r string",
    )
    got = [tuple(r) for r in fd_violations(df, "l", "r").collect()]
    assert got == [(2, 1, 2, 0.5)]


def test_new_vs_returning_hand_computed(spark):
    """u1 active days 0 and 1, u2 only day 1: day 0 is all-new, day 1
    splits 1 new / 1 returning."""
    from rearview_spark.operators.behavior import new_vs_returning

    df = spark.createDataFrame(
        [("u1", 10), ("u1", 86405), ("u2", 86500)],
        "user_id string, ts long",
    )
    got = [tuple(r) for r in new_vs_returning(df).collect()]
    assert got == [
        (0, 1, 0, 1, 1.0),
        (1, 1, 1, 2, 0.5),
    ]


def test_markov_steady_state_hand_computed(spark):
    """Two-type chain a->b (always) and b->a/b->b (50/50), one
    iteration from the uniform start at scale 100: w[a] = 100*1//2
    = 50, w[b] = 100*1//1 + 100*1//2 = 150 — floor-division exact."""
    from rearview_spark.operators.behavior import markov_steady_state

    rows = [
        # u1: a b b a b  -> transitions a->b, b->b, b->a, a->b
        ("u1", 1, "a", 1),
        ("u1", 2, "b", 2),
        ("u1", 3, "b", 3),
        ("u1", 4, "a", 4),
        ("u1", 5, "b", 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts long, event_type string, event_id long"
    )
    got = [
        tuple(r)
        for r in markov_steady_state(df, iterations=1, scale=100).collect()
    ]
    assert got == [("a", 50, 0.25), ("b", 150, 0.75)]
    import pytest as _pytest

    empty = spark.createDataFrame(
        [("u", 1, "a", 1)],
        "user_id string, ts long, event_type string, event_id long",
    )
    with _pytest.raises(ValueError, match="no transitions"):
        markov_steady_state(empty)


def test_markov_steady_state_cardinality_guard(spark):
    """The driver-side iteration is |types|^2 arithmetic, so the pair
    domain is probed (bounded limit+count on the checkpointed
    aggregate) BEFORE any collect: a type domain whose transition
    pairs exceed max_pairs raises a named error instead of silently
    building a huge driver dict (VERDICT r14 'What's wrong' #2 — the
    select_glob cap discipline). The same data passes when the cap
    accommodates it, and an invalid cap is rejected up front."""
    import pytest as _pytest

    from rearview_spark.operators.behavior import markov_steady_state

    # one user, 4 distinct types in sequence -> 3 distinct (src, dst)
    # pairs; max_pairs=2 must trip the guard
    rows = [("u1", i, f"t{i}", i) for i in range(1, 5)]
    df = spark.createDataFrame(
        rows, "user_id string, ts long, event_type string, event_id long"
    )
    with _pytest.raises(ValueError, match="exceeds max_pairs"):
        markov_steady_state(df, max_pairs=2)
    assert markov_steady_state(df, max_pairs=3).count() == 4
    with _pytest.raises(ValueError, match="max_pairs must be"):
        markov_steady_state(df, max_pairs=0)


def test_metric_staleness_hand_computed(spark):
    """m last seen bucket 5 (the frame's newest), q at bucket 1:
    lag 4 > threshold 3 flags q stale, m fresh."""
    from rearview_spark.operators.timeseries import metric_staleness

    df = spark.createDataFrame(
        [("m", 3600 * 5, 1.0), ("m", 3600 * 2, 1.0), ("q", 3600, 1.0)],
        "metric string, ts long, value double",
    )
    got = [tuple(r) for r in metric_staleness(df, threshold_buckets=3).collect()]
    assert got == [("m", 5, 0, False), ("q", 1, 4, True)]

def test_gini_concentration_hand_computed(spark):
    """Counts [1, 1, 2] ranked ascending (key tiebreak): sum(i*x) =
    1 + 2 + 6 = 9, n = 3, sum(x) = 4 -> G = (18 - 16) / 12 = 1/6;
    perfectly even counts read 0; a single key has no inequality to
    measure (NULL); empty input -> ONE row (n_keys=0, n_rows NULL,
    gini NULL) matching the oracle's ungrouped aggregate (ADVICE
    r15)."""
    from rearview_spark.operators.behavior import gini_concentration

    rows = [("a", 1), ("b", 2), ("c", 3), ("c", 4)]
    df = spark.createDataFrame(rows, "user_id string, event_id long")
    got = [tuple(r) for r in gini_concentration(df).collect()]
    assert got == [(3, 4, 0.166667)]

    even = spark.createDataFrame(
        [("a", 1), ("b", 2)], "user_id string, event_id long"
    )
    assert [tuple(r) for r in gini_concentration(even).collect()] == [
        (2, 2, 0.0)
    ]

    one = spark.createDataFrame([("a", 1)], "user_id string, event_id long")
    assert [tuple(r) for r in gini_concentration(one).collect()] == [
        (1, 1, None)
    ]

    empty = spark.createDataFrame([], "user_id string, event_id long")
    assert [tuple(r) for r in gini_concentration(empty).collect()] == [
        (0, None, None)
    ]


def test_source_simpson_diversity_hand_computed(spark):
    """s1 = 'a a b': n_i = [2, 1], N = 3 -> D = 2*1 / (3*2) = 1/3;
    s2 = 'x y': D = 0 (all distinct); s3 = 'z': N = 1 -> NULL (no
    pair to draw); blank text contributes no phantom '' token."""
    from rearview_spark.operators.text import source_simpson_diversity

    rows = [
        (1, "a a b", "s1"),
        (2, "x y", "s2"),
        (3, "z", "s3"),
        (4, "   ", "s3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = [tuple(r) for r in source_simpson_diversity(df).collect()]
    assert got == [
        ("s1", 3, 2, 0.333333),
        ("s2", 2, 2, 0.0),
        ("s3", 1, 1, None),
    ]

def test_cohort_value_curve_hand_computed(spark):
    """u1 joins week 0 (value 1.00 then 2.00 in week 1), u2 joins week
    1 (value 10.00); cohort 0 = {u1}: cells (0, 100c) and (1, 200c),
    cum 100 -> 300, LTV 1.00 -> 3.00; cohort 1 = {u2}: (0, 1000c),
    LTV 10.00. A NULL value contributes 0 cents, not NULL."""
    import pytest as _pytest

    from rearview_spark.operators.behavior import cohort_value_curve

    wk = 604800
    rows = [
        ("u1", 10, 1.0),
        ("u1", wk + 5, 2.0),
        ("u2", wk + 50, 10.0),
        ("u2", wk + 60, None),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts long, value double")
    got = [tuple(r) for r in cohort_value_curve(df).collect()]
    assert got == [
        (0, 0, 1, 100, 100, 1.0),
        (0, 1, 1, 200, 300, 3.0),
        (1, 0, 1, 1000, 1000, 10.0),
    ]
    with _pytest.raises(ValueError, match="cents must be"):
        cohort_value_curve(df, cents=0)
    neg = spark.createDataFrame(
        [("u", -1, 1.0)], "user_id string, ts long, value double"
    )
    with _pytest.raises(Exception, match="negative epoch"):
        cohort_value_curve(neg).collect()

def test_profile_drift_hand_computed(spark):
    """Snapshot a: k = [1, 1, 2], v = ['x', NULL]; snapshot b:
    k = [1, 2, 3, 3], v all NULL. Per hand: k ndv 2 -> 3 (ratio 1.5),
    null rates 0 -> 0; v null rate 1/3 -> 1.0 (delta 2/3), ndv 1 -> 0
    (ratio 0.0). Duplicate column list rejected."""
    import pytest as _pytest

    from rearview_spark.operators.profiling import profile_drift

    a = spark.createDataFrame(
        [(1, "x"), (1, None), (2, None)], "k long, v string"
    )
    b = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (3, None)], "k long, v string"
    )
    got = {r["col_name"]: tuple(r) for r in profile_drift(a, b, ["k", "v"]).collect()}
    assert got["k"] == ("k", 3, 4, 0, 0, 2, 3, 0.0, 1.5)
    kv = got["v"]
    assert kv[:7] == ("v", 3, 4, 2, 4, 1, 0)
    assert abs(kv[7] - (1.0 - 2.0 / 3.0)) < 1e-15
    assert kv[8] == 0.0
    with _pytest.raises(ValueError, match="distinct columns"):
        profile_drift(a, b, ["k", "k"])

    # an EMPTY snapshot reports zeros (rates NULL), never drops rows —
    # the literal-anchor join, not the grouped aggregate's emptiness
    empty = spark.createDataFrame([], "k long, v string")
    ez = {r["col_name"]: tuple(r) for r in profile_drift(empty, b, ["k"]).collect()}
    assert ez["k"] == ("k", 0, 4, 0, 0, 0, 3, None, None)


def test_silhouette_hand_computed(spark):
    """Simplified silhouette on hand vectors against two fixed unit
    centroids: perfectly aligned vectors score 1, a 0.6/0.8 vector
    scores (0.8-0.6)/(1-0.6) = 0.5, a zero vector carries the -2
    sentinel on every centroid (a = b = 3 -> score 0, smallest
    bucket), and a single-centroid codebook yields NULL b/score."""
    from rearview_spark.operators.similarity import silhouette

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.6, 0.8]), (4, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "bucket int, centroid array<double>",
    )
    got = {r["vec_id"]: r for r in silhouette(corpus, cb).collect()}
    assert (got[1]["bucket"], got[1]["a_dist"], got[1]["b_dist"], got[1]["score"]) == (0, 0.0, 1.0, 1.0)
    assert (got[2]["bucket"], got[2]["a_dist"], got[2]["b_dist"], got[2]["score"]) == (1, 0.0, 1.0, 1.0)
    assert got[3]["bucket"] == 1
    assert got[3]["a_dist"] == pytest.approx(0.2)
    assert got[3]["b_dist"] == pytest.approx(0.4)
    assert got[3]["score"] == pytest.approx(0.5)
    assert (got[4]["bucket"], got[4]["a_dist"], got[4]["b_dist"], got[4]["score"]) == (0, 3.0, 3.0, 0.0)

    solo = silhouette(corpus, cb.filter("bucket = 0")).collect()
    assert all(r["b_dist"] is None and r["score"] is None for r in solo)


def test_numeric_outlier_audit_hand_computed(spark):
    """Hand-computed robust audit: column a = [1,2,3,4,100,NULL] has
    med 3, MAD 1, and exactly the 100 fires (0.6745*97 > 3.5); column
    b = [5,5,5,5,9,5] has MAD 0 (over half identical), so the 9 does
    NOT fire — the by-definition quiet case; NULLs are counted but
    excluded from location/scale."""
    from rearview_spark.operators.profiling import numeric_outlier_audit

    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0), (4.0, 5.0), (100.0, 9.0), (None, 5.0)],
        "a double, b double",
    )
    got = {r["col_name"]: r for r in numeric_outlier_audit(df, ["a", "b"]).collect()}
    ra = got["a"]
    assert (ra["n_rows"], ra["n_nulls"], ra["med"], ra["mad"], ra["n_outliers"]) == (
        5, 1, 3.0, 1.0, 1
    )
    assert ra["outlier_rate"] == pytest.approx(0.2)
    rb = got["b"]
    assert (rb["n_rows"], rb["n_nulls"], rb["med"], rb["mad"], rb["n_outliers"]) == (
        6, 0, 5.0, 0.0, 0
    )
    with pytest.raises(ValueError, match="non-empty"):
        numeric_outlier_audit(df, [])
