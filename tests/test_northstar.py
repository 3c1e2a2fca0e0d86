"""Tests for the training-data-pipeline operators (SURVEY.md §2.9):
dedup families, similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from flink_example_spark.operators import dedup, multimodal, similarity, text

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again", "en"),
    (1, "the quick brown fox jumps over the lazy dog again and again!", "en"),  # near-dup of 0
    (2, "completely different content about spark query engines", "en"),
    (3, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup of 0
    (4, "der schnelle braune fuchs springt und springt", "de"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 2  # doc 3 collapsed into doc 0 (min id kept)
    assert 3 not in out
    assert out[1] == 1 and out[2] == 1 and out[4] == 1


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0
    assert (0, 2) not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs
    assert all(j >= 0.5 for j in pairs.values())


def test_simhash_pairs(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.simhash_pairs(docs).collect()}
    assert pairs[(0, 3)] == 0  # identical text → identical simhash
    assert all(h <= 3 for h in pairs.values())


def test_short_docs_do_not_crash_dedup(spark):
    """Docs shorter than the shingle/ngram size: empty gram sets, no crash,
    no spurious pairs (Spark's sequence(a,b) DESCENDS when a>b — regression
    guard for the unguarded-sequence bug)."""
    short = spark.createDataFrame(
        [(0, "ab", "en"), (1, "cd", "en"), (2, "one two", "en"),
         (3, "the quick brown fox jumps over the lazy dog", "en"),
         (4, "the quick brown fox jumps over the lazy dog", "en")],
        "doc_id long, text string, lang string",
    )
    # word_ngrams(n=3): docs 0-2 have <3 tokens -> excluded, 3-4 pair up
    pairs = dedup.ngram_jaccard_pairs(short, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(3, 4)}
    # char_shingles(k=5): docs 0-1 are shorter than k -> no bogus pair
    mh = dedup.minhash_lsh_pairs(short, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in mh} == {(3, 4)}
    # direct: short text yields an EMPTY shingle set, not a whole-text one
    from pyspark.sql.types import Row

    row = (
        spark.createDataFrame([("ab",)], "text string")
        .select(dedup.char_shingles(F.col("text"), 5).alias("g"),
                dedup.word_ngrams(F.col("text"), 3).alias("w"))
        .first()
    )
    assert row["g"] == [] and row["w"] == []


@pytest.mark.parametrize("method", ["local", "distributed"])
def test_duplicate_clusters_transitive(spark, monkeypatch, method):
    """A≈B and B≈C must land A, B, C in one cluster labeled min(id);
    both the union-find (default size gate) and star-contraction
    (gate forced to 0) paths must agree."""
    if method == "distributed":
        monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_MAX", "0")
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 0.95)],
        "doc_a long, doc_b long, jaccard double",
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 1.0]),
    (4, [0.7, 0.7, 0.0]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in VECS], "vec_id long, embedding array<float>"
    )


def np_topk(qid, k=3):
    qv = dict(VECS)[qid]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    scored = sorted(
        ((cos(qv, v), i) for i, v in VECS if i != qid), key=lambda t: (-t[0], t[1])
    )
    return [i for _, i in scored[:k]]


def test_cosine_topk_exact(spark, vecs):
    out = similarity.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=3)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == np_topk(0)
    # rel=1e-6: embeddings are stored float32, so values are quantized
    assert rows[0]["cos"] == pytest.approx(0.9 / math.sqrt(0.81 + 0.01), rel=1e-6)


def test_lsh_topk_subset_of_exact(spark, vecs):
    exact = similarity.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=5)
    approx = similarity.lsh_cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=5, dim=3)
    exact_ids = {r["neighbor_id"] for r in exact.collect()}
    approx_rows = approx.collect()
    assert {r["neighbor_id"] for r in approx_rows} <= exact_ids
    # ranks are contiguous from 1 within the bucket
    assert sorted(r["rank"] for r in approx_rows) == list(range(1, len(approx_rows) + 1))


def test_ivf_topk_structure(spark):
    """IVF results: correct rank ordering, subset of the corpus, sane recall
    against the exact baseline on a bigger sample."""
    from flink_example_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, queries, k=5)
    approx = similarity.ivf_cosine_topk(emb, queries, k=5, n_cells=8, n_probe=4)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap_rows = approx.collect()
    # per-query ranks contiguous from 1
    by_q: dict = {}
    for r in ap_rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    # probing half the cells should recover a reasonable share of true top-5
    recall = len({(r["query_id"], r["neighbor_id"]) for r in ap_rows} & ex) / len(ex)
    assert recall >= 0.2, recall


def test_cosine_pairs_threshold(spark, vecs):
    with_block = vecs.withColumn("label", F.lit(1))
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in similarity.cosine_pairs(with_block, threshold=0.99).collect()
    }
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] == pytest.approx(0.9 / math.sqrt(0.82), rel=1e-6)


def test_text_edge_cases(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "one"), (3, "a  b\t c"), (4, "the fox and the dog")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.text_features(df).collect()}
    assert [out[i]["n_tokens"] for i in range(5)] == [0, 0, 1, 3, 5]
    assert out[4]["lang_pred"] == "en"
    assert out[0]["fingerprint"] == out[1]["fingerprint"]  # both normalize to ""
    assert 0.0 <= out[4]["quality"] <= 1.0


def test_multimodal_decode_plumbing(spark, docs):
    media = multimodal.documents_as_media(docs.select("doc_id", "text"))
    # name/type parity with the declared schema (nullability differs by source)
    assert [(f.name, f.dataType) for f in media.schema] == [
        (f.name, f.dataType) for f in multimodal.MEDIA_SCHEMA
    ]
    feats = multimodal.decode_media(media, dim=16, fake=True)
    rows = feats.collect()
    assert len(rows) == len(DOCS)
    assert all(len(r["feature"]) == 16 for r in rows)
    # deterministic: same payload → same fake feature
    by_id = {r["media_id"]: r["feature"] for r in rows}
    assert by_id[0] == by_id[3]
    assert all(r["media_type"] in multimodal.MEDIA_TYPES for r in rows)


def test_multimodal_decode_stub_raises(spark, docs):
    media = multimodal.documents_as_media(docs.select("doc_id", "text"))
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        multimodal.decode_media(media, fake=False).collect()


def test_multimodal_sample_frames(spark):
    import hashlib
    import math

    rows = [(2, "abcdefghij"), (5, "xyz"), (8, ""), (3, "not a video")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    media = multimodal.documents_as_media(docs)
    frames = multimodal.sample_frames(media, n_frames=4, fake=True).collect()
    got = {(r["media_id"], r["frame_idx"]): (r["frame_chars"], r["frame_md5"]) for r in frames}
    # doc 3 is not a video (3 % 3 == 0 → image): excluded entirely
    assert not any(mid == 3 for mid, _ in got)
    # doc 2: 10 chars, step=3 → frames abc/def/ghi/j
    for i, frame in enumerate(["abc", "def", "ghi", "j"]):
        assert got[(2, i)] == (len(frame), hashlib.md5(frame.encode()).hexdigest())
    # doc 5: 3 chars, step=1 → x/y/z (3 frames, not 4)
    assert {i for m, i in got if m == 5} == {0, 1, 2}
    # doc 8: empty payload → no frames
    assert not any(mid == 8 for mid, _ in got)
    # deterministic slicing mirrors ceil-division
    assert math.ceil(10 / 4) == 3


def test_sample_frames_stub_raises(spark):
    docs = spark.createDataFrame([(2, "abcdef")], ["doc_id", "text"])
    media = multimodal.documents_as_media(docs)
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        multimodal.sample_frames(media, fake=False).collect()


def test_duplicate_clusters_long_chain(spark):
    """Star contraction must collapse a high-diameter component in O(log)
    rounds — plain min-label propagation would need diameter rounds. Also
    asserts nothing edge-sized is collected on the DEFAULT path."""
    from pyspark.sql import DataFrame

    n = 60  # chain 0-1-2-...-60 (diameter 60 >> max_iter)
    chain = [(i, i + 1, 1.0) for i in range(n)] + [(100, 101, 1.0)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long, jaccard double")

    collected_sizes = []
    orig_collect = DataFrame.collect

    def spy(self):
        rows = orig_collect(self)
        collected_sizes.append(len(rows))
        return rows

    DataFrame.collect = spy
    import os

    os.environ["SPARK_GRAFT_CC_LOCAL_MAX"] = "0"  # force the scale path
    try:
        out = dedup.duplicate_clusters(pairs, max_iter=10)
        rows = orig_collect(out)
    finally:
        DataFrame.collect = orig_collect
        del os.environ["SPARK_GRAFT_CC_LOCAL_MAX"]
    labels = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert labels == {**{i: 0 for i in range(n + 1)}, 100: 100, 101: 100}
    # driver saw only scalar checksums (DataFrame.first goes through limit(1)
    # plans, not DataFrame.collect on the edge set)
    assert all(s <= 1 for s in collected_sizes), collected_sizes


def test_simhash_md5_matches_xxhash_structure(spark, docs):
    """The portable md5-token simhash finds the same identical-text dup as
    the xxhash64 fast path (hamming 0 is hash-family-independent)."""
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, token_hash="md5").collect()
    }
    assert pairs[(0, 3)] == 0
    assert all(h <= 3 for h in pairs.values())


def test_ann_recall_vs_exact(spark):
    """recall@k of every approximate path against the exact baseline; the
    kmeans-trained IVF must not lag the sampled-centroid IVF materially."""
    from flink_example_spark.operators import similarity
    from flink_example_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = embs.filter(F.col("vec_id") < 8)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = pairs(similarity.cosine_topk(embs, queries, k=5))
    assert len(exact) == 8 * 5

    def recall(df):
        return len(pairs(df) & exact) / len(exact)

    # LSH: each added plane halves the candidate set — recall must follow
    # the tradeoff curve (monotone non-increasing), and the coarse setting
    # must retain a meaningful fraction on these near-random embeddings.
    r_lsh = {p: recall(similarity.lsh_cosine_topk(embs, queries, k=5, n_planes=p)) for p in (2, 3, 4)}
    assert r_lsh[2] >= r_lsh[3] >= r_lsh[4], r_lsh
    assert r_lsh[2] > 0.3, r_lsh
    r_ivf = recall(similarity.ivf_cosine_topk(embs, queries, k=5))
    km = similarity.kmeans_centroids(embs, k=16, iters=2)
    r_kivf = recall(similarity.ivf_cosine_topk(embs, queries, k=5, centroids=km))
    # IVF probes n_probe/n_cells of the corpus; training must not hurt
    assert r_ivf > 0.4, r_ivf
    assert r_kivf >= r_ivf - 0.15, (r_kivf, r_ivf)


def test_kmeans_centroids_improve_distortion(spark):
    """Lloyd iterations must not worsen mean assignment similarity, stay at
    exactly k cells, and be deterministic across runs."""
    from flink_example_spark.operators import similarity
    from flink_example_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def mean_sim(cent):
        c = similarity._prep(embs, "vec_id", "embedding", "n")
        scored = c.crossJoin(F.broadcast(cent)).select(
            "n_id",
            (
                similarity.dot(F.col("n_vec"), F.col("c_vec"))
                / (F.col("n_norm") * F.col("c_norm"))
            ).alias("s"),
        )
        best = scored.groupBy("n_id").agg(F.max("s").alias("b"))
        return best.agg(F.avg("b")).first()[0]

    c0 = similarity.kmeans_centroids(embs, k=8, iters=0)
    c3 = similarity.kmeans_centroids(embs, k=8, iters=3)
    assert c0.count() == 8 and c3.count() == 8
    s0, s3 = mean_sim(c0), mean_sim(c3)
    assert s3 >= s0 - 1e-9, (s0, s3)
    # deterministic re-run
    c3b = similarity.kmeans_centroids(embs, k=8, iters=3)
    rows_a = sorted((r["cell"], tuple(r["c_vec"])) for r in c3.collect())
    rows_b = sorted((r["cell"], tuple(r["c_vec"])) for r in c3b.collect())
    assert rows_a == rows_b


def test_codec_parsers_roundtrip():
    """Pure-python codec layer: encode → parse recovers exactly what was
    packed, including RIFF word-alignment for odd-sized data chunks."""
    data = bytes(range(48)) * 4  # 192 bytes = 8*8*3
    w, h, raster = multimodal._parse_ppm(multimodal._encode_ppm(8, 8, data))
    assert (w, h, raster) == (8, 8, data)

    pcm = b"ab" * 20  # 40 bytes, 20 frames mono
    sr, ch, got = multimodal._parse_wav(multimodal._encode_wav(16000, 1, pcm))
    assert (sr, ch, got) == (16000, 1, pcm)
    # odd-sized data chunk exercises the word-alignment walk
    odd = b"xyz"
    payload = multimodal._encode_wav(8000, 2, odd) + b"JUNK" + (4).to_bytes(4, "little") + b"zzzz"
    sr, ch, got = multimodal._parse_wav(payload)
    assert (sr, ch, got) == (8000, 2, odd)


def test_codec_parsers_reject_malformed():
    with pytest.raises(ValueError, match="P6"):
        multimodal._parse_ppm(b"P3\n1 1\n255\nxxx")
    with pytest.raises(ValueError, match="raster size"):
        multimodal._parse_ppm(b"P6\n2 2\n255\nshort")
    with pytest.raises(ValueError, match="RIFF"):
        multimodal._parse_wav(b"RIFX....WAVE")
    with pytest.raises(ValueError, match="missing fmt"):
        multimodal._parse_wav(b"RIFF" + (4).to_bytes(4, "little") + b"WAVE")


def test_codec_roundtrip_spark(spark, docs):
    """encode_codec_media → decode_codec_media recovers the analytic
    metadata for every document; decode reads ONLY payload bytes."""
    media = multimodal.encode_codec_media(docs.select("doc_id", "text"))
    out = {r["media_id"]: r for r in multimodal.decode_codec_media(media).collect()}
    assert len(out) == len(DOCS)
    for doc_id, _text, _lang in DOCS:
        r = out[doc_id]
        if doc_id % 2 == 0:
            assert r["media_type"] == "image"
            assert (r["width"], r["height"]) == (doc_id % 32 + 8, doc_id % 24 + 8)
            assert r["channels"] == 3 and r["sample_rate"] is None
            assert r["n_data_bytes"] == r["width"] * r["height"] * 3
        else:
            assert r["media_type"] == "audio"
            assert r["width"] is None and r["height"] is None
            assert r["sample_rate"] == 8000 + (doc_id % 8) * 1000
            assert r["channels"] == 1 + doc_id % 2
            assert r["n_data_bytes"] == (doc_id % 64 + 16) * r["channels"] * 2


def test_paragraph_dedup(spark):
    rows = [
        (1, "alpha\nbeta\ngamma"),
        (2, "beta\ndelta"),      # beta's canonical home is doc 1
        (3, "alpha\nbeta"),      # fully claimed elsewhere -> empty doc
        (4, "\nalpha"),          # leading empty paragraph (first '' keeper)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(d).collect()}
    assert out[1]["text_deduped"] == "alpha\nbeta\ngamma"
    assert (out[1]["n_kept"], out[1]["n_removed"]) == (3, 0)
    assert out[2]["text_deduped"] == "delta"
    assert (out[2]["n_kept"], out[2]["n_removed"]) == (1, 1)
    assert out[3]["text_deduped"] == "" and out[3]["n_kept"] == 0
    assert out[3]["n_removed"] == 2
    # doc 4: '' at pos 0 is the canonical empty paragraph; 'alpha' removed
    assert out[4]["text_deduped"] == "" and out[4]["n_kept"] == 1
    assert out[4]["n_removed"] == 1


def test_chunk_audio_real_wav(spark, docs):
    media = multimodal.encode_codec_media(docs.select("doc_id", "text"))
    out = multimodal.chunk_audio(media, frames_per_chunk=16).collect()
    audio_ids = {doc_id for doc_id, _t, _l in DOCS if doc_id % 2 == 1}
    assert {r["media_id"] for r in out} == audio_ids
    for mid in audio_ids:
        chunks = sorted((r for r in out if r["media_id"] == mid), key=lambda r: r["chunk_idx"])
        nf_total = mid % 64 + 16
        assert sum(c["n_frames"] for c in chunks) == nf_total
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        assert all(c["n_frames"] == 16 for c in chunks[:-1])  # only last may be short


def test_tfidf_top_terms(spark):
    rows = [
        (1, "apple banana apple"),
        (2, "banana cherry"),
        (3, "durian durian durian"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_id"], r["rank"]): r for r in text.tfidf_top_terms(d, k=2).collect()}
    # doc 1: apple tf=2 df=1 -> 2*(4/2)=4.0 beats banana 1*(4/3)
    assert out[(1, 1)]["term"] == "apple" and out[(1, 1)]["score"] == 4.0
    assert out[(1, 2)]["term"] == "banana"
    # doc 3: durian tf=3 df=1 -> 6.0, only one distinct term
    assert out[(3, 1)]["term"] == "durian" and out[(3, 1)]["score"] == 6.0
    assert (3, 2) not in out


def test_lsh_pairs_banding_recall(spark):
    """Multi-band LSH recall on planted near-duplicates (cos >= 0.95):
    deterministic corpus, so the curve is stable — 1 band misses pairs that
    straddle a hyperplane, 4 bands recover them all."""
    from flink_example_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.slice("embedding", 1, 63),
            F.array((F.element_at("embedding", 64) + F.lit(0.05)).cast("float")),
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(pert)
    brute = {
        (r.vec_a, r.vec_b)
        for r in similarity.cosine_pairs(corpus, threshold=0.95, block_col=None).collect()
    }
    assert brute
    r1 = {
        (r.vec_a, r.vec_b)
        for r in similarity.lsh_cosine_pairs(corpus, threshold=0.95, n_bands=1).collect()
    }
    r4 = {
        (r.vec_a, r.vec_b)
        for r in similarity.lsh_cosine_pairs(corpus, threshold=0.95, n_bands=4).collect()
    }
    assert r1 <= brute and r4 <= brute  # LSH never invents pairs
    assert len(r1) / len(brute) >= 0.7
    assert len(r4) / len(brute) >= 0.95
    assert len(r4) >= len(r1)


def test_codec_parsers_pgm_aiff():
    data = bytes(range(64))  # 8*8 grayscale
    w, h, got = multimodal._parse_pgm(multimodal._encode_pgm(8, 8, data))
    assert (w, h, got) == (8, 8, data)
    # 80-bit extended float round-trips exactly for integer sample rates
    for sr in (8000, 11025, 44100, 96000):
        assert multimodal._parse_f80(multimodal._encode_f80(sr)) == sr
    pcm = b"xy" * 10
    sr, ch, got = multimodal._parse_aiff(multimodal._encode_aiff(22050, 1, pcm))
    assert (sr, ch, got) == (22050, 1, pcm)
    with pytest.raises(ValueError, match="FORM"):
        multimodal._parse_aiff(b"RIFF....WAVE")
    with pytest.raises(ValueError, match="missing COMM"):
        multimodal._parse_aiff(b"FORM" + (4).to_bytes(4, "big") + b"AIFF")


def test_resize_image_roundtrip_ppm_and_pgm(spark):
    """Real resize over BOTH codec formats: hand-computed nearest-neighbor
    sampling on a tiny synthetic image, payload re-parse proof."""
    from flink_example_spark.operators import multimodal as mm

    w, h = 6, 4
    gray = bytes(range(w * h))                      # P5: byte = pixel index
    rgb = bytes(x % 251 for x in range(w * h * 3))  # P6
    media = spark.createDataFrame(
        [(0, "image", mm._encode_pgm(w, h, gray)), (2, "image", mm._encode_ppm(w, h, rgb))],
        mm.CODEC_MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in mm.resize_image(media, factor=2).collect()}
    assert set(out) == {0, 2}
    r0 = out[0]
    assert (r0["in_w"], r0["in_h"], r0["out_w"], r0["out_h"]) == (6, 4, 3, 2)
    expect_gray = [gray[(y * 2) * w + x * 2] for y in range(2) for x in range(3)]
    assert r0["out_sum"] == sum(expect_gray)
    _, _, data0 = mm._parse_pgm(bytes(r0["out_payload"]))
    assert list(data0) == expect_gray
    r2 = out[2]
    expect_rgb = [
        rgb[((y * 2) * w + x * 2) * 3 + c] for y in range(2) for x in range(3) for c in range(3)
    ]
    assert r2["out_sum"] == sum(expect_rgb)
    _, _, data2 = mm._parse_ppm(bytes(r2["out_payload"]))
    assert list(data2) == expect_rgb


def test_resize_image_box_mean(spark):
    """Box-filter downsample: every output byte is the integer mean of its
    f x f block (hand-computed on a tiny gradient)."""
    from flink_example_spark.operators import multimodal as mm

    w, h = 4, 4
    gray = bytes(range(16))
    media = spark.createDataFrame(
        [(0, "image", mm._encode_pgm(w, h, gray))], mm.CODEC_MEDIA_SCHEMA
    )
    r = mm.resize_image(media, factor=2, method="box").first()
    assert (r["out_w"], r["out_h"]) == (2, 2)
    blocks = [
        (gray[0] + gray[1] + gray[4] + gray[5]) // 4,
        (gray[2] + gray[3] + gray[6] + gray[7]) // 4,
        (gray[8] + gray[9] + gray[12] + gray[13]) // 4,
        (gray[10] + gray[11] + gray[14] + gray[15]) // 4,
    ]
    _, _, data = mm._parse_pgm(bytes(r["out_payload"]))
    assert list(data) == blocks
    assert r["out_sum"] == sum(blocks)


def test_bm25_topk_ranking_properties(spark):
    """BM25: a doc containing all query terms outranks one with none; rare
    terms dominate common ones; rank is dense 1..k per query."""
    from flink_example_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "zebra quark flux"),            # all rare terms
            (2, "zebra zebra common common"),   # one rare term, repeated
            (3, "common common common"),        # only the ubiquitous term
            (4, "common other words here"),
            (5, "common filler text row"),
        ],
        "doc_id bigint, text string",
    )
    qs = spark.createDataFrame([(0, "zebra quark")], "query_id bigint, query_text string")
    out = bm25_topk(docs, qs, topk=5).orderBy("rank").collect()
    # docs 3-5 share no query term -> absent; doc 1 (both terms) beats doc 2
    assert [r["doc_id"] for r in out] == [1, 2]
    assert [r["rank"] for r in out] == [1, 2]
    assert out[0]["score"] > out[1]["score"] > 0.0


def test_bm25_length_normalization(spark):
    """Same tf in a shorter document scores higher (the b term)."""
    from flink_example_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "needle alpha"),
            (2, "needle alpha beta gamma delta epsilon zeta eta theta iota"),
            (3, "alpha beta gamma"),
            (4, "beta gamma delta"),
            (5, "gamma delta epsilon"),
            (6, "delta epsilon zeta"),
        ],
        "doc_id bigint, text string",
    )
    qs = spark.createDataFrame([(0, "needle")], "query_id bigint, query_text string")
    out = {r["doc_id"]: r["score"] for r in bm25_topk(docs, qs, topk=5).collect()}
    assert set(out) == {1, 2}
    assert out[1] > out[2]


def test_pmi_collocations_finds_planted_phrase(spark):
    """A bigram that always co-occurs outranks independent pairs; tokens
    that never meet don't appear."""
    from flink_example_spark.operators.text import pmi_collocations

    # "hong kong" always adjacent (8 docs); filler words mix independently
    docs = [(i, "hong kong " + " ".join(["the", "of", "data", "row"] * 3)) for i in range(8)]
    docs += [(100 + i, "the data of row the of data row") for i in range(8)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = pmi_collocations(df, topk=10, min_count=3).collect()
    assert (out[0]["a"], out[0]["b"]) == ("hong", "kong")
    assert out[0]["pmi_bits"] > 0
    assert all(r["c_ab"] >= 3 for r in out)


def test_mmr_rerank_diversifies(spark):
    """MMR pick 2 skips the near-duplicate of pick 1 in favor of a diverse
    candidate, even though the duplicate has higher raw relevance."""
    from flink_example_spark.operators.similarity import mmr_rerank

    vecs = [
        (0, [1.0, 0.0, 0.0]),      # query
        (1, [0.99, 0.1, 0.0]),     # most relevant
        (2, [0.98, 0.11, 0.0]),    # near-dup of 1, still very relevant
        (3, [0.6, 0.0, 0.8]),      # diverse, less relevant
        (4, [0.5, 0.0, 0.9]),      # diverse, least relevant
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["pick"]: r["neighbor_id"]
        for r in mmr_rerank(df, df.filter(F.col("vec_id") == 0), k=3, pool=4).collect()
    }
    assert out[1] == 1          # pure relevance
    assert out[2] in (3, 4)     # diversification beats the near-dup
    assert len(set(out.values())) == 3


def test_crop_image_region_bytes(spark):
    """Center crop cuts exactly rows h//4..h//4+h//2, cols w//4..w//4+w//2;
    the re-parsed payload holds those bytes verbatim."""
    from flink_example_spark.operators import multimodal as mm

    w, h = 8, 6
    data = bytes(range(w * h))
    payload = mm._encode_pgm(w, h, data)
    media = spark.createDataFrame(
        [(1, "image", payload)], "media_id long, media_type string, payload binary"
    )
    r = mm.crop_image(media).first()
    assert (r["out_w"], r["out_h"]) == (4, 3)
    x0, y0 = 2, 1
    want = [data[(y0 + y) * w + x0 + x] for y in range(3) for x in range(4)]
    _, _, got = mm._parse_pgm(bytes(r["out_payload"]))
    assert list(got) == want
    assert r["out_sum"] == sum(want)


def test_bigram_surprisal_backoff_arithmetic(spark):
    """Hand-checked stupid-backoff arithmetic: seen bigram = conditional
    bits; unseen bigram with known w2 = penalty + unigram bits; unknown w2
    skipped. Train doc 0 only."""
    from pyspark.sql import functions as F

    from flink_example_spark.operators.text import bigram_surprisal

    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "a b x c a")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["avg_bigram_bits"])
        for r in bigram_surprisal(docs, train_pred=F.col("doc_id") == 0).collect()
    }
    # train doc: c1(a)=2 b=1 c=1, N=4; bigrams (a,b)(b,a)(a,c) once each.
    # doc 1 pairs: (a,b) seen -> flog2(2/1)=1; (b,x) skipped (x unknown);
    # (x,c) backoff -> 2+flog2(4/1)=4; (c,a) backoff -> 2+flog2(4/2)=3.
    assert out[1] == (3, (1 + 4 + 3) / 3)
    # train doc scored against itself: all bigrams seen.
    # (a,b): flog2(2/1)=1; (b,a): flog2(1/1)=0; (a,c): flog2(2/1)=1
    assert out[0] == (3, (1 + 0 + 1) / 3)


def test_retrieval_eval_metrics(spark):
    """Hand-checked recall@k / precision@k / MRR on a crafted run."""
    from flink_example_spark.operators.similarity import retrieval_eval

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    retrieved = spark.createDataFrame(
        # q1: first hit at rank 2, two hits in top-3; rank-4 hit excluded at k=3
        [(1, 99, 1), (1, 10, 2), (1, 11, 3), (1, 12, 4),
         # q2: no hits at all
         (2, 98, 1), (2, 97, 2), (2, 96, 3)],
        "query_id long, neighbor_id long, rank long",
    )
    out = {r["query_id"]: r for r in retrieval_eval(retrieved, truth, k=3).collect()}
    q1, q2 = out[1], out[2]
    assert (q1["n_rel"], q1["n_hits"], q1["first_hit_rank"]) == (3, 2, 2)
    assert q1["recall_at_k"] == 2 / 3 and q1["precision_at_k"] == 2 / 3
    assert q1["rr"] == 0.5
    assert (q2["n_hits"], q2["first_hit_rank"], q2["rr"]) == (0, None, 0.0)
    assert q2["recall_at_k"] == 0.0


def test_image_ahash_dedup_end_to_end(spark):
    """Identical text + same dims (doc_ids 96 apart, even) must encode to
    identical images and pair at hamming 0; a different doc must not."""
    from pyspark.sql import functions as F

    from flink_example_spark.operators.multimodal import (
        ahash_pairs,
        encode_codec_media,
        image_ahash,
    )

    docs = spark.createDataFrame(
        [(0, "same text payload"), (96, "same text payload"), (2, "another image")],
        "doc_id long, text string",
    )
    media = encode_codec_media(docs, formats=("pgm", "aiff"))
    fps = image_ahash(media.filter(F.col("media_type") == "image"))
    pairs = {(r["id_a"], r["id_b"], r["hamming"]) for r in ahash_pairs(fps, 0).collect()}
    assert pairs == {(0, 96, 0)}


def test_ahash_pairs_pigeonhole_recall_and_verify(spark):
    """3 flipped bits across distinct chunks still share untouched chunks
    (found); 20 flips exceed the verify threshold (dropped)."""
    from flink_example_spark.operators.multimodal import ahash_pairs

    base_hi, base_lo = 0x12345678, 0x0F0F0F0F
    near_lo = base_lo ^ 0b111  # 3 bits inside chunk 0
    far_hi = base_hi ^ 0xFFFFF000  # many bits, several chunks untouched -> candidate
    rows = [(1, base_hi, base_lo), (2, base_hi, near_lo), (3, far_hi, base_lo)]
    fps = spark.createDataFrame(rows, "media_id long, fp_hi long, fp_lo long")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in ahash_pairs(fps, 6).collect()}
    assert got == {(1, 2): 3}


def test_pair_set_eval_arithmetic(spark):
    from flink_example_spark.operators.similarity import pair_set_eval

    got = spark.createDataFrame([(1, 2), (1, 3), (4, 5)], "vec_a long, vec_b long")
    truth = spark.createDataFrame([(1, 2), (4, 5), (6, 7), (8, 9)], "vec_a long, vec_b long")
    r = pair_set_eval(got, truth).collect()[0]
    assert (r["n_got"], r["n_truth"], r["n_common"]) == (3, 4, 2)
    assert r["precision"] == 2 / 3 and r["recall"] == 0.5
    assert r["f1"] == 4 / 7


def test_pq_codes_complete_and_recall(spark):
    """Every vector compresses to exactly m codes; on CLUSTERED data (the
    regime PQ exists for — near-uniform random vectors are its documented
    adversarial case) ADC retrieval recovers cluster-mates."""
    from pyspark.sql import functions as F

    from flink_example_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )
    from flink_example_spark.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = pq_codebooks(e, m=4, k_sub=8, iters=2).localCheckpoint()
    assert cb.count() == 4 * 8
    codes = pq_encode(e, cb).localCheckpoint()
    n = e.count()
    assert codes.count() == 4 * n
    assert codes.groupBy("vec_id").count().filter("count != 4").count() == 0

    # clustered fixture: 10 centers x 8 jittered members (deterministic)
    import math

    rows = []
    for c in range(10):
        base = [math.sin(0.7 * c * (d + 1)) for d in range(64)]
        for j in range(8):
            vec = [base[d] + 0.01 * math.cos(c + j + d) for d in range(64)]
            rows.append((c * 8 + j, vec))
    clustered = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb2 = pq_codebooks(clustered, m=4, k_sub=8, iters=2).localCheckpoint()
    codes2 = pq_encode(clustered, cb2).localCheckpoint()
    got = pq_topk(codes2, cb2, clustered.filter(F.col("vec_id") % 8 == 0), k=5)
    # a query's top-5 must be dominated by its own cluster (same vec_id//8)
    hits = got.filter(
        (F.col("neighbor_id") / 8).cast("long") == (F.col("query_id") / 8).cast("long")
    ).count()
    assert hits >= 0.8 * got.count(), (hits, got.count())


def test_ivfpq_full_probe_equals_pq(spark):
    """With n_probe == n_cells every cell is probed, so the IVF restriction
    admits all pairs and IVF-PQ must equal unrestricted PQ exactly; with
    n_probe=1 results are a subset of the candidate cells (pruning real)."""
    from pyspark.sql import functions as F

    from flink_example_spark.operators.similarity import (
        ivfpq_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )
    from flink_example_spark.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 4)
    cb = pq_codebooks(e, m=4, k_sub=8, iters=1).localCheckpoint()
    codes = pq_encode(e, cb).localCheckpoint()
    full = {tuple(r) for r in pq_topk(codes, cb, q, k=3).collect()}
    ivf_full = {
        tuple(r)
        for r in ivfpq_topk(e, q, k=3, n_cells=4, n_probe=4, m=4, k_sub=8, iters=1).collect()
    }
    assert ivf_full == full
    pruned = ivfpq_topk(e, q, k=3, n_cells=4, n_probe=1, m=4, k_sub=8, iters=1)
    assert pruned.count() <= len(full)


def test_ivfpq_residual_recovers_clusters(spark):
    """Residual IVF-PQ on clustered data recovers cluster-mates like the
    raw-vector variant (structure + quality smoke for the classic form)."""
    import math

    from pyspark.sql import functions as F

    from flink_example_spark.operators.similarity import ivfpq_residual_topk

    rows = []
    for c in range(10):
        base = [math.sin(0.7 * c * (d + 1)) for d in range(64)]
        for j in range(8):
            vec = [base[d] + 0.01 * math.cos(c + j + d) for d in range(64)]
            rows.append((c * 8 + j, vec))
    clustered = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = ivfpq_residual_topk(
        clustered,
        clustered.filter(F.col("vec_id") % 8 == 0),
        k=5,
        n_cells=10,
        n_probe=2,
        m=4,
        k_sub=8,
        iters=1,
    )
    hits = got.filter(
        (F.col("neighbor_id") / 8).cast("long") == (F.col("query_id") / 8).cast("long")
    ).count()
    assert hits >= 0.8 * got.count(), (hits, got.count())


def test_image_dhash_identical_payloads_collide(spark):
    """dHash mirrors the ahash contract: identical (text, dims) images get
    identical fingerprints; a 64-bit fp splits into two 32-bit halves."""
    from pyspark.sql import functions as F

    from flink_example_spark.operators.multimodal import (
        encode_codec_media,
        image_dhash,
    )

    docs = spark.createDataFrame(
        [(0, "same text payload"), (96, "same text payload"), (2, "another image")],
        "doc_id long, text string",
    )
    media = encode_codec_media(docs, formats=("pgm", "aiff"))
    fps = {r["media_id"]: r for r in
           image_dhash(media.filter(F.col("media_type") == "image")).collect()}
    assert (fps[0]["fp_hi"], fps[0]["fp_lo"]) == (fps[96]["fp_hi"], fps[96]["fp_lo"])
    assert (fps[2]["fp_hi"], fps[2]["fp_lo"]) != (fps[0]["fp_hi"], fps[0]["fp_lo"])
    for r in fps.values():
        assert 0 <= r["fp_hi"] < 2 ** 32 and 0 <= r["fp_lo"] < 2 ** 32
        assert r["n_bits"] == bin(r["fp_hi"]).count("1") + bin(r["fp_lo"]).count("1")


def test_pca_power_recovers_planted_direction(spark):
    """Vectors spread along e0 with small noise on e1 -> top component
    ~ +/-e0, unit norm, eigenvalue ~ the e0 variance."""
    import math

    from flink_example_spark.operators.similarity import pca_power

    rows = []
    for k in range(40):
        v = [0.0] * 8
        v[0] = float(k - 20)          # dominant axis, variance ~ 133
        v[1] = 0.1 * ((k % 3) - 1)    # tiny noise axis
        rows.append((k, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["i"]: r for r in pca_power(df, n_iter=12).collect()}
    assert set(out) == set(range(8))
    norm = math.sqrt(sum(r["loading"] ** 2 for r in out.values()))
    assert abs(norm - 1.0) < 1e-6
    assert abs(abs(out[0]["loading"]) - 1.0) < 1e-3
    ev = out[0]["eigenvalue"]
    var0 = sum((k - 20 + 0.5) ** 2 for k in range(40)) / 40
    assert abs(ev - var0) / var0 < 0.01


def test_pca_components_orthogonal_descending(spark):
    import math

    from flink_example_spark.operators.similarity import pca_components

    rows = []
    # two planted axes with different variance + small third
    for k in range(30):
        v = [0.0] * 6
        v[0] = float(k - 15)
        v[1] = 0.5 * ((k * 7) % 11 - 5)
        v[2] = 0.05 * ((k % 2) * 2 - 1)
        rows.append((k, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pca_components(df, n_components=2, n_iter=12).collect()
    comps = {}
    for r in out:
        comps.setdefault(r["component"], {})[r["i"]] = r["loading"]
    evs = {r["component"]: r["eigenvalue"] for r in out}
    assert evs[0] > evs[1] > 0
    v0 = [comps[0][i] for i in range(6)]
    v1 = [comps[1][i] for i in range(6)]
    dot = sum(a * b for a, b in zip(v0, v1))
    assert abs(dot) < 1e-3                       # orthogonal
    assert abs(abs(v0[0]) - 1.0) < 1e-2          # PC1 ~ axis 0
    assert abs(abs(v1[1]) - 1.0) < 1e-2          # PC2 ~ axis 1
    for v in (v0, v1):
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-6


def test_pca_driver_solver_bit_identical(spark):
    """solver='driver' (collected dim²-cells + exact driver math) must
    reproduce the distributed join-loop solver BIT-FOR-BIT — same
    per-term 1e12 integer quantization (order-independent sums), same
    fixed IEEE double op sequence. This equality is the hash-preserving
    certificate for defaulting PCA rows to the driver solve."""
    from flink_example_spark.operators.similarity import (
        pca_components,
        pca_power,
    )

    rows = []
    for k in range(60):
        v = [float(((k * 7 + d * 13) % 11) - 5) + 0.25 * d for d in range(12)]
        rows.append((k, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(
        tuple(r)
        for r in pca_components(
            df, n_components=3, n_iter=10, solver="driver"
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in pca_components(
            df, n_components=3, n_iter=10, solver="distributed"
        ).collect()
    )
    assert a == b  # exact float equality, not approx
    pa = sorted(
        tuple(r) for r in pca_power(df, n_iter=10, solver="driver").collect()
    )
    pb = sorted(
        tuple(r)
        for r in pca_power(df, n_iter=10, solver="distributed").collect()
    )
    assert pa == pb


def test_pca_topk_recall_against_exact(spark):
    """PCA-reduced shortlist + exact rerank: rerank scores must be
    bit-identical to exact cosine; recall@5 vs brute force high on
    structured data."""
    from flink_example_spark.operators.similarity import cosine_topk, pca_topk

    rows = []
    # 3 well-separated clusters in 12-D
    for cid in range(3):
        for j in range(20):
            v = [0.05 * ((j * 7 + d) % 5 - 2) for d in range(12)]
            v[cid * 4] += 3.0
            rows.append((cid * 20 + j, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cosine_topk(df, df.filter("vec_id < 4"), k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in pca_topk(df, n_components=3, shortlist=16, k=5,
                          n_queries=4, n_iter=10).collect()
    }
    hits = set(got) & set(exact)
    assert len(hits) / len(exact) >= 0.8
    for key in hits:
        assert got[key] == exact[key]  # rerank == exact cosine, bit-for-bit


def test_pca_outliers_flags_planted_anomaly(spark):
    from flink_example_spark.operators.similarity import pca_outliers

    rows = []
    for k in range(40):
        v = [0.0] * 8
        v[0] = float(k % 5 - 2)
        v[1] = 0.3 * ((k * 3) % 7 - 3)
        rows.append((k, v))
    # vec 99 lies far along the dominant axis -> extreme PC1 score
    out_v = [0.0] * 8
    out_v[0] = 25.0
    rows.append((99, out_v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pca_outliers(df, n_components=2, topk=3, n_iter=10).collect()
    assert out[0]["vec_id"] == 99 and out[0]["rank"] == 1
    assert out[0]["score"] > 5 * out[1]["score"]


def test_nearest_centroid_learns_separable_clusters(spark):
    from flink_example_spark.operators.similarity import nearest_centroid_classifier

    rows = []
    for lab in range(3):
        for j in range(20):
            v = [0.1 * ((j + d) % 3 - 1) for d in range(6)]
            v[lab * 2] += 5.0
            rows.append((lab * 20 + j, v, lab))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = nearest_centroid_classifier(df, holdout_mod=5).collect()
    assert len(out) == 12  # ids divisible by 5
    assert all(r["is_correct"] == 1 for r in out)
    assert {r["pred_label"] for r in out} == {0, 1, 2}


def test_image_sobel_flat_and_step_images(spark):
    """A constant image has zero gradient everywhere; a vertical step edge
    has the analytically-known Sobel response on the two columns abutting
    the step and zero elsewhere."""
    from flink_example_spark.operators.multimodal import (
        _encode_pgm,
        image_sobel,
    )

    w, h = 8, 6
    flat = _encode_pgm(w, h, bytes([50] * (w * h)))
    # left half 0, right half 100 (step between x=3 and x=4)
    step_row = bytes([0] * 4 + [100] * 4)
    step = _encode_pgm(w, h, step_row * h)
    media = spark.createDataFrame(
        [(1, "image", bytearray(flat)), (2, "image", bytearray(step))],
        "media_id long, media_type string, payload binary",
    )
    out = {r["media_id"]: r for r in image_sobel(media, edge_t2=20_000).collect()}
    assert out[1]["grad_energy"] == 0 and out[1]["n_edges"] == 0
    assert out[1]["n_interior"] == (w - 2) * (h - 2)
    # step image: gx = 400 at x in {3, 4} (|sum of kernel col| = 4 * 100),
    # gy = 0 everywhere; interior rows = h - 2
    expected = (h - 2) * 2 * 400 * 400
    assert out[2]["grad_energy"] == expected
    assert out[2]["max_grad2"] == 400 * 400
    assert out[2]["n_edges"] == (h - 2) * 2  # 160000 > 20000


def test_audio_silence_known_energies(spark):
    """Hand-built WAV: 8 frames of amplitude 100 then 8 of amplitude 0 ->
    exactly one active and one silent window at window_frames=8."""
    import struct

    from flink_example_spark.operators.multimodal import (
        _encode_wav,
        audio_silence,
    )

    frames = [100] * 8 + [0] * 8
    data = b"".join(struct.pack("<h", v) for v in frames)
    media = spark.createDataFrame(
        [(1, "audio", bytearray(_encode_wav(8000, 1, data)))],
        "media_id long, media_type string, payload binary",
    )
    r = audio_silence(media, window_frames=8, threshold=1000).collect()[0]
    assert r["n_windows"] == 2
    assert r["n_active"] == 1
    assert r["max_energy"] == 8 * 100 * 100
    assert r["min_energy"] == 0
    assert r["total_energy"] == 80000
    assert r["sample_rate"] == 8000


def test_audio_silence_negative_samples_energy(spark):
    """Signed PCM decodes correctly: amplitude -200 contributes 200^2."""
    import struct

    from flink_example_spark.operators.multimodal import (
        _encode_wav,
        audio_silence,
    )

    data = b"".join(struct.pack("<h", -200) for _ in range(8))
    media = spark.createDataFrame(
        [(1, "audio", bytearray(_encode_wav(8000, 1, data)))],
        "media_id long, media_type string, payload binary",
    )
    r = audio_silence(media, window_frames=8, threshold=0).collect()[0]
    assert r["total_energy"] == 8 * 200 * 200


def test_hist_equalize_stretches_two_level_image(spark):
    """Two gray levels (dark-heavy) must map to {0, 255} exactly under
    the integer CDF remap."""
    from flink_example_spark.operators.multimodal import (
        _encode_pgm,
        hist_equalize,
    )

    w, h = 8, 4
    data = bytes([50] * 24 + [200] * 8)  # 24 dark, 8 bright
    media = spark.createDataFrame(
        [(1, "image", bytearray(_encode_pgm(w, h, data)))],
        "media_id long, media_type string, payload binary",
    )
    r = hist_equalize(media).collect()[0]
    # cdf_min = 24 (darkest level); out(50) = 0; out(200) = (32-24)*255//8 = 255
    assert r["distinct_in"] == 2 and r["distinct_out"] == 2
    assert r["out_min"] == 0 and r["out_max"] == 255
    assert r["out_sum"] == 8 * 255


def test_hist_equalize_constant_image_all_zero(spark):
    from flink_example_spark.operators.multimodal import (
        _encode_pgm,
        hist_equalize,
    )

    media = spark.createDataFrame(
        [(1, "image", bytearray(_encode_pgm(4, 4, bytes([99] * 16))))],
        "media_id long, media_type string, payload binary",
    )
    r = hist_equalize(media).collect()[0]
    assert r["distinct_in"] == 1 and r["out_sum"] == 0 and r["out_max"] == 0


def test_duplicate_clusters_local_gate(spark):
    """r14 crossover: below SPARK_GRAFT_CC_LOCAL_MAX the default path takes
    the driver union-find; labels must be BIT-identical to the distributed
    star contraction on the same edges."""
    import os

    chain = [(i, i + 1, 1.0) for i in range(40)] + [(90, 91, 1.0), (91, 7, 1.0)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long, jaccard double")
    local = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()  # gate: local
    }
    os.environ["SPARK_GRAFT_CC_LOCAL_MAX"] = "0"
    try:
        dist = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(pairs).collect()
        }
    finally:
        del os.environ["SPARK_GRAFT_CC_LOCAL_MAX"]
    assert local == dist
    assert local[91] == 0  # 90-91-7 bridges into the chain component
