"""Unit tests for the LLM-data-pipeline operators on inline fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from baronbatch_etl_spark.operators import dedup as D
from baronbatch_etl_spark.operators import multimodal as M
from baronbatch_etl_spark.operators import similarity as S
from baronbatch_etl_spark.operators import text as X


def _docs(spark, texts, langs=None):
    rows = [
        Row(
            doc_id=i,
            text=t,
            lang=(langs[i] if langs else "en"),
            source=f"src{i}",
            n_chars=len(t),
        )
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows)


BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy cat again and again today"
OTHER = "completely different words populate this document with nothing shared"


def test_exact_dedup_survivors(spark):
    docs = _docs(spark, [BASE, BASE, OTHER])
    out = {r.doc_id: r.n_copies for r in D.exact_dedup_survivors(docs).collect()}
    assert out == {0: 2, 2: 1}  # min doc_id survives, copies counted


def test_minhash_identical_signature(spark):
    docs = _docs(spark, [BASE, BASE])
    sigs = (
        docs.select(D.minhash_signature(F.col("text")).alias("sig"))
        .collect()
    )
    assert sigs[0].sig == sigs[1].sig
    assert len(sigs[0].sig) == D.MINHASH_K


def test_minhash_lsh_finds_exact_dup_not_other(spark):
    # identical shingle sets collide in every band (deterministic);
    # sub-threshold pairs are only *probabilistically* candidates, so
    # the recall assertion uses jaccard=1.0 pairs.
    docs = _docs(spark, [BASE, BASE, OTHER])
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.minhash_lsh_pairs(D.signatures(docs), threshold=0.5).collect()
    }
    assert pairs == {(0, 1): 1.0}


def test_simhash_identical_and_near(spark):
    docs = _docs(spark, [BASE, BASE, OTHER])
    out = {r.doc_id: r.simhash for r in
           docs.select("doc_id", D.simhash(F.col("text")).alias("simhash")).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]
    pairs = D.simhash_near_pairs(D.signatures(docs)).collect()
    assert any(p.doc_a == 0 and p.doc_b == 1 and p.hamming == 0 for p in pairs)


def test_ngram_jaccard_threshold(spark):
    docs = _docs(spark, [BASE, NEAR, OTHER])
    pairs = D.ngram_jaccard_pairs(D.signatures(docs), threshold=0.3).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(0, 1)]
    assert 0.3 <= pairs[0].jaccard < 1.0


def test_lang_id_markers(spark):
    docs = _docs(spark, ["el la de y proyecto", "the cat and the hat", "xyzzy plugh"])
    out = [r.p for r in docs.select(X.lang_id("text").alias("p")).collect()]
    assert out == ["es", "en", "und"]


def test_token_count_empty(spark):
    docs = _docs(spark, ["", "one two three"])
    out = [r.n for r in docs.select(X.token_count("text").alias("n")).collect()]
    assert out == [0, 3]


def test_cosine_topk_orders_by_similarity(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[0.9, 0.1], label=0),
        Row(vec_id=2, embedding=[0.0, 1.0], label=1),
    ]
    emb = spark.createDataFrame(rows)
    out = S.brute_force_topk(emb, 0, 2).collect()
    assert [r.vec_id for r in out] == [1, 2]
    assert out[0].cos_sim > 0.99


def test_neardup_hot_cell_paths_agree(spark):
    # One deliberately hot cell (label 0, 8 vectors) + one small cell.
    # cell_cap=4 forces label 0 through the salted pair join while
    # label 1 stays on the Arrow all-pairs path; both must produce the
    # same pairs with bit-identical scores as the unsplit baseline.
    import math

    rows = [
        Row(
            vec_id=i,
            embedding=[math.cos(i / 10.0), math.sin(i / 10.0), 0.1 * i],
            label=0,
        )
        for i in range(8)
    ] + [
        Row(vec_id=100 + i, embedding=[1.0, 0.0, float(i)], label=1)
        for i in range(3)
    ]
    emb = spark.createDataFrame(rows)
    baseline = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in S.embedding_near_dup_pairs(emb, 0.5, cell_cap=100).collect()
    }
    split = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in S.embedding_near_dup_pairs(
            emb, 0.5, cell_cap=4, salt=3
        ).collect()
    }
    assert baseline, "fixture must produce at least one near-dup pair"
    assert split == baseline  # exact float equality — same fold order


def test_zero_norm_vectors_match_duckdb_cosine(spark):
    """An all-zero embedding has no cosine: DuckDB's sql_cosine gives
    NULL (0/0) and sorts it last under DESC. Every expression-path
    operator must do the same instead of raising DIVIDE_BY_ZERO under
    ANSI division, with the zero vector in the corpus (query 1) and as
    the query (query 0); both near-dup paths pair it with nothing."""
    import duckdb

    pad = [0.0] * 62  # srp_topk's SRP UDF codes 64-dim vectors
    rows = [
        (0, [0.0, 0.0] + pad, 0),
        (1, [1.0, 0.0] + pad, 0),
        (2, [0.6, 0.8] + pad, 0),
        (3, [0.0, 1.0] + pad, 1),
        (4, [0.0, 0.0] + pad, 1),
        (5, [1.0, 1.0] + pad, 1),
        (6, [0.9, 0.1] + pad, 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings "
        "(vec_id BIGINT, embedding DOUBLE[], label INTEGER)"
    )
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", rows)
    scored = f"""
        SELECT q.vec_id AS q_id, q.label AS q_label, e.vec_id, e.label,
               {S.sql_cosine("e.embedding", "q.embedding")} AS cos_sim
        FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id"""

    def oracle(where, k):
        return con.execute(
            f"""SELECT q_id, vec_id, cos_sim FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS r
                FROM ({scored}) WHERE {where}
            ) WHERE r <= {k} ORDER BY q_id, r"""
        ).fetchall()

    def one(op, **kw):
        return [
            (q, r.vec_id, r.cos_sim)
            for q in (0, 1)
            for r in op(emb, q, 3, **kw).collect()
        ]

    def per_query(df):
        return [
            (r.q_id, r.vec_id, r.cos_sim)
            for r in sorted(df.collect(), key=lambda r: (r.q_id, r["rank"]))
        ]

    brute = oracle("q_id IN (0, 1)", 3)
    assert any(c is None for _, _, c in brute)  # the zero rows rank last
    assert one(S.brute_force_topk) == brute
    # a 6-bit code is always within hamming 6: every vector is a candidate
    assert one(S.srp_topk, planes=6, radius=6) == brute
    assert one(S.ivf_topk) == oracle("q_id IN (0, 1) AND label = q_label", 3)
    assert per_query(S.batch_topk(emb, [0, 1], 3)) == brute
    assert per_query(S.hard_negatives(emb, [0, 1], 2)) == oracle(
        "q_id IN (0, 1) AND label <> q_label", 2
    )

    pairs = sorted(
        con.execute(
            f"""SELECT a.vec_id, b.vec_id,
                       {S.sql_cosine("a.embedding", "b.embedding")} AS c
                FROM embeddings a JOIN embeddings b
                  ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE c >= 0.5"""
        ).fetchall()
    )
    assert pairs
    for cell_cap in (2048, 1):  # Arrow all-pairs, then the salted join
        got = S.embedding_near_dup_pairs(emb, 0.5, cell_cap=cell_cap)
        assert sorted(map(tuple, got.collect())) == pairs


def test_multimodal_features_deterministic(spark):
    docs = _docs(spark, ["abcd", "xy"])
    out = {r.media_id: r for r in
           M.extract_features(M.documents_as_media(docs)).collect()}
    assert out[0].byte_len == 4
    assert out[0].features == [float((4 * (i + 7)) % 256) for i in range(8)]
    assert out[1].byte_len == 2


def test_multimodal_decoder_rejects_unknown_formats():
    # non-PNG payloads without an imaging library must fail loudly
    # (with PIL present, PIL raises its own decode error instead)
    exc = NotImplementedError if M._PIL_Image is None else Exception
    with pytest.raises(exc):
        M._decode_image(b"GIF89a not actually supported here")
    # a truncated PNG signature is not a PNG either
    with pytest.raises(Exception):
        M._decode_image(b"\x89PNG")


def test_jpeg_routes_through_pil_and_fails_loud_without_it(monkeypatch):
    """The layered decoder's JPEG path: PIL when present (decoded
    pixels come back), and a loud NotImplementedError — never a
    silent fallthrough — when PIL is absent (r4 verdict item 6)."""
    if M._PIL_Image is not None:
        import io

        img = M._PIL_Image.new("RGB", (4, 3), (10, 20, 30))
        buf = io.BytesIO()
        img.save(buf, format="JPEG")
        jpeg = buf.getvalue()
        assert jpeg[:3] == b"\xff\xd8\xff"  # real JFIF magic
        w, h, ch, px = M._decode_image(jpeg)
        assert (w, h, ch) == (4, 3, 3)
        assert len(px) == 4 * 3 * 3
    else:  # pragma: no cover — PIL ships in this container
        jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 16
    monkeypatch.setattr(M, "_PIL_Image", None)
    with pytest.raises(NotImplementedError, match="PIL"):
        M._decode_image(jpeg)


def test_frame_sample_and_resize_plans(spark):
    from pyspark.sql import Row as R

    media = spark.createDataFrame(
        [
            R(media_id=1, payload=None,
              meta=R(mime="video/mp4", width=1920, height=1080, duration_ms=10000)),
            R(media_id=2, payload=None,
              meta=R(mime="image/png", width=100, height=400, duration_ms=None)),
        ],
        M.MEDIA_SCHEMA,
    )
    frames = {r.media_id: r.frame_offsets_ms
              for r in M.frame_sample_offsets(media, 4).collect()}
    assert frames[1] == [0, 2500, 5000, 7500]
    assert frames[2] == [0, 0, 0, 0]  # no duration → all offsets 0

    sizes = {r.media_id: (r.target_width, r.target_height)
             for r in M.resize_spec(media, max_side=256).collect()}
    assert sizes[1] == (256, 144)  # aspect preserved, longest side capped
    assert sizes[2] == (64, 256)


def test_connected_components_chain(spark):
    # chain 1-2-3-4 plus isolated pair (10,11): two components, min-id
    # labels require multi-round propagation to reach the chain tail
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    out = {r.node: r.comp for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_order_invariant(spark):
    # same graph, edges reversed and shuffled — identical labels
    pairs = spark.createDataFrame(
        [(4, 3), (2, 1), (3, 2), (11, 10)], ["doc_a", "doc_b"]
    )
    out = {r.node: r.comp for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_raises_at_round_cap(spark):
    # a 12-node chain takes ~11 propagation rounds to carry label 1 to
    # its tail: with a 3-round cap the labels are still changing, and
    # partial components must raise, not be returned
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        D.connected_components(pairs, max_iter=3)


def test_repeated_spans_exact_counts(spark):
    # "a b c d e f g h" (8 tokens) appears verbatim in docs 0 and 1,
    # twice in doc 1; doc 2 shares no 8-token window.
    d0 = "a b c d e f g h tail words here"
    d1 = "a b c d e f g h then a b c d e f g h"
    out = {
        r.span: (r.n_docs, r.n_occ)
        for r in D.repeated_spans(
            _docs(spark, [d0, d1, OTHER]), k=8, min_docs=2
        ).collect()
    }
    assert out["a b c d e f g h"] == (2, 3)
    # no span from a short doc, and single-doc spans are filtered
    assert all(n_docs >= 2 for n_docs, _ in out.values())


def test_repeated_spans_short_docs_empty(spark):
    out = D.repeated_spans(_docs(spark, ["one two three", ""]), k=8).collect()
    assert out == []


def test_bloom_no_false_negatives_and_word_bound(spark):
    corpus = _docs(spark, [BASE, NEAR, OTHER, BASE + " x", "alpha beta"])
    bloom = D.bloom_build(corpus, key="text")
    # filter is tiny and bounded: at most BLOOM_BITS/BLOOM_WORD rows
    words = bloom.collect()
    assert len(words) <= D.BLOOM_BITS // D.BLOOM_WORD
    # every corpus member must hit (no false negatives — the Bloom
    # guarantee the incremental-dedup pipeline relies on)
    probed = D.bloom_probe(
        corpus.select("doc_id", "text"), bloom, key="text"
    )
    assert all(r.bloom_hit for r in probed.collect())


def test_bloom_probe_misses_definitely_new(spark):
    corpus = _docs(spark, [BASE, OTHER])
    bloom = D.bloom_build(corpus, key="text")
    batch = _docs(
        spark, ["wholly novel sentence nine", BASE]
    ).select("doc_id", "text")
    out = {r.doc_id: r.bloom_hit for r in D.bloom_probe(batch, bloom).collect()}
    assert out[1] is True  # exact member always hits
    # the novel doc may or may not collide, but with 32k bits over two
    # corpus keys a collision is (deterministically) absent here
    assert out[0] is False


# --- kmeans_assign --------------------------------------------------------


def _vecs(spark, vectors):
    rows = [
        Row(vec_id=i, embedding=[float(v) for v in vec], label=0)
        for i, vec in enumerate(vectors)
    ]
    return spark.createDataFrame(rows)


def test_kmeans_two_blobs(spark):
    # two tight blobs far apart; seeds (2 lowest vec_ids) land one in
    # each blob, so one round already separates them perfectly
    blob_a = [[0.0, 0.0], [0.1, 0.0], [0.0, 0.1]]
    blob_b = [[5.0, 5.0], [5.1, 5.0], [5.0, 5.1]]
    emb = _vecs(spark, [blob_a[0], blob_b[0]] + blob_a[1:] + blob_b[1:])
    out = {
        r.vec_id: r.cluster
        for r in S.kmeans_assign(emb, k=2, iters=2).collect()
    }
    assert out[0] == 0 and out[2] == 0 and out[3] == 0
    assert out[1] == 1 and out[4] == 1 and out[5] == 1


def test_kmeans_deterministic(spark):
    import random

    rng = random.Random(7)
    emb = _vecs(
        spark, [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(40)]
    )
    a = sorted(map(tuple, S.kmeans_assign(emb, k=3, iters=2).collect()))
    b = sorted(map(tuple, S.kmeans_assign(emb, k=3, iters=2).collect()))
    assert a == b  # bit-identical across runs, dist included


def test_kmeans_empty_cluster_drops(spark):
    # seed 1 (vec 1) is strictly closer to seed 0's blob than any
    # point is to it after round 1 re-centering: duplicate points make
    # cluster 1 empty in round 2 — the operator must not crash and
    # every point lands in a surviving cluster
    emb = _vecs(spark, [[0.0, 0.0], [0.2, 0.0], [0.1, 0.0], [0.1, 0.0]])
    rows = S.kmeans_assign(emb, k=2, iters=3).collect()
    assert len(rows) == 4
    assert {r.cluster for r in rows} <= {0, 1}


def test_kmeans_tie_breaks_low_cid(spark):
    # a point equidistant from both centroids must take the lower cid
    emb = _vecs(spark, [[-1.0, 0.0], [1.0, 0.0], [0.0, 0.0]])
    out = {
        r.vec_id: r.cluster
        for r in S.kmeans_assign(emb, k=2, iters=1).collect()
    }
    assert out[2] == 0


def test_kmeans_rejects_zero_iters(spark):
    # validated before any Spark job runs, as pagerank does — no seed
    # collect first
    emb = _vecs(spark, [[0.0, 0.0], [1.0, 1.0]])
    tracker = spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(), default=-1)
    with pytest.raises(ValueError):
        S.kmeans_assign(emb, k=2, iters=0)
    assert max(tracker.getJobIdsForGroup(), default=-1) == last_job
    with pytest.raises(ValueError, match="no vectors"):
        S.kmeans_assign(emb.limit(0), k=2)  # nothing to seed from


def test_kmeans_k_larger_than_corpus(spark):
    # k > n: only n seeds exist; every point is its own centroid after
    # round 1 and the operator must not crash or emit phantom clusters
    emb = _vecs(spark, [[0.0, 1.0], [5.0, 5.0]])
    rows = S.kmeans_assign(emb, k=5, iters=2).collect()
    assert len(rows) == 2
    assert {r.cluster for r in rows} == {0, 1}
    assert all(r.dist == 0.0 for r in rows)


# ---------------------------------------------------------------------------
# Payload aHash fingerprints (multimodal near-dup)
# ---------------------------------------------------------------------------


def _media(spark, texts):
    return M.documents_as_media(_docs(spark, texts))


def test_ahash_locality_single_edit(spark):
    # one flipped character perturbs one slice's sum: the codes of the
    # original and the edited payload stay within a few bits
    fps = {
        r.media_id: r.fp
        for r in M.payload_fingerprints(_media(spark, [BASE, NEAR])).collect()
    }
    assert fps[0] != 0
    assert bin(fps[0] ^ fps[1]).count("1") <= 8


def test_ahash_flat_payload_codes_zero(spark):
    # uniform byte stream with equal-size slices → every slice sum
    # equals the mean → code 0 (the documented aHash flat-image
    # behavior); two flat payloads of the same length always collide
    fps = M.payload_fingerprints(
        _media(spark, ["a" * 112, "b" * 112])
    ).collect()
    assert fps[0].fp == 0
    assert fps[1].fp == fps[0].fp


def test_fingerprint_near_pairs_finds_exact_dup(spark):
    out = M.fingerprint_near_pairs(
        M.payload_fingerprints(_media(spark, [BASE, OTHER, BASE]))
    ).collect()
    pairs = {(r.media_a, r.media_b): r.hamming for r in out}
    assert pairs.get((0, 2)) == 0
    assert (0, 1) not in pairs and (1, 2) not in pairs


def test_fingerprint_near_pairs_pigeonhole_recall(spark):
    # every pair within hamming <= 3 MUST be produced (4-band pigeonhole)
    fps = {
        r.media_id: r.fp
        for r in M.payload_fingerprints(
            _media(spark, [BASE, NEAR, OTHER])
        ).collect()
    }
    out = M.fingerprint_near_pairs(
        M.payload_fingerprints(_media(spark, [BASE, NEAR, OTHER])), 56
    )
    got = {(r.media_a, r.media_b) for r in out.collect()}
    for a in fps:
        for b in fps:
            if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3:
                assert (a, b) in got


# ---------------------------------------------------------------------------
# Hard-negative mining
# ---------------------------------------------------------------------------


def _labeled_vecs(spark, rows):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=e, label=lb) for i, (e, lb) in enumerate(rows)]
    )


def test_hard_negatives_excludes_same_label(spark):
    emb = _labeled_vecs(
        spark,
        [
            ([1.0, 0.0], 0),
            ([0.99, 0.1], 0),   # same label — never a negative for 0
            ([0.9, 0.2], 1),    # the hard negative
            ([-1.0, 0.0], 1),   # easy negative
        ],
    )
    out = S.hard_negatives(emb, [0], k=2).collect()
    assert [r.vec_id for r in out] == [2, 3]
    assert all(r.neg_label != r.q_label for r in out)
    assert [r.rank for r in out] == [1, 2]


def test_hard_negatives_k_bounds_per_anchor(spark):
    emb = _labeled_vecs(
        spark,
        [([1.0, 0.0], 0), ([0.0, 1.0], 1)]
        + [([float(i % 3 - 1), 1.0], 2) for i in range(6)],
    )
    out = S.hard_negatives(emb, [0, 1], k=3)
    counts = {
        r.q_id: r.n for r in out.groupBy("q_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {0: 3, 1: 3}


def test_extract_features_real_decoder_with_pil(spark):
    # runs wherever an imaging stack exists; SKIPS (not fails) where
    # it doesn't — the use_real_decoder=True claim stays falsifiable
    import io

    PIL_Image = pytest.importorskip("PIL.Image")

    buf = io.BytesIO()
    PIL_Image.new("RGB", (2, 3)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytearray(buf.getvalue()), meta=None)],
        M.MEDIA_SCHEMA,
    )
    out = M.extract_features(media, use_real_decoder=True).collect()
    assert len(out) == 1 and out[0].byte_len == len(buf.getvalue())


def test_extract_features_real_decoder_raises_without_pil(spark):
    # in a container with no imaging library the real-decode path must
    # fail loudly, not silently fake
    if M._PIL_Image is not None:
        pytest.skip("PIL present; covered by the decode test above")
    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytearray(b"xx"), meta=None)], M.MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        M.extract_features(media, use_real_decoder=True).collect()


def _png_bytes(w, h, ch, pixels, row_filters):
    """Tiny stdlib PNG encoder (8-bit, non-interlaced) applying the
    given per-row filter types — exercises every decode branch."""
    import binascii
    import struct
    import zlib

    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    stride = w * ch
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = pixels[y * stride : (y + 1) * stride]
        f = row_filters[y % len(row_filters)]
        raw.append(f)
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            raw.append((line[i] - pred) & 255)
        prev = line
    import struct as st

    hdr = st.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", hdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_stdlib_png_decoder_roundtrips_all_filters():
    import random

    rnd = random.Random(7)
    for ch in (1, 2, 3, 4):
        w, h = 5, 10
        pixels = bytes(rnd.randrange(256) for _ in range(w * h * ch))
        png = _png_bytes(w, h, ch, pixels, row_filters=[0, 1, 2, 3, 4])
        gw, gh, gch, out = M._decode_png(png)
        assert (gw, gh, gch) == (w, h, ch)
        assert out == pixels, f"filter roundtrip failed for ch={ch}"


def test_extract_features_real_decoder_stdlib_png(spark):
    # the real-decode path runs END TO END without PIL: stdlib PNG
    # reference decoder -> per-channel pixel statistics
    import numpy as np

    pixels = bytes(range(2 * 3 * 3))  # 2x3 RGB, values 0..17
    png = _png_bytes(2, 3, 3, pixels, row_filters=[0])
    media = spark.createDataFrame(
        [Row(media_id=5, payload=bytearray(png), meta=None)], M.MEDIA_SCHEMA
    )
    (row,) = M.extract_features(media, use_real_decoder=True).collect()
    assert row.byte_len == len(png)
    mat = np.frombuffer(pixels, dtype=np.uint8).astype(float).reshape(-1, 3)
    want = [2.0, 3.0, 3.0, float(mat.mean())] + [
        float(m) for m in mat.mean(axis=0)
    ] + [0.0]
    assert row.features == pytest.approx(want[:8])


def _wav_bytes(rate, ch, frames16):
    """In-test stdlib WAV encoder: frames16 is an int16 numpy array
    shaped (n_frames, ch)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(ch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames16.astype("<i2").tobytes())
    return buf.getvalue()


def test_extract_audio_features_stdlib_wav(spark):
    import numpy as np

    rate = 8000
    t = np.arange(rate)  # one second
    left = (1000 * np.sign(np.sin(2 * np.pi * 440 * t / rate))).astype("<i2")
    right = np.full(rate, 500, dtype="<i2")
    wav = _wav_bytes(rate, 2, np.stack([left, right], axis=1))
    media = spark.createDataFrame(
        [
            Row(media_id=1, payload=bytearray(wav), meta=None),
            Row(media_id=2, payload=None, meta=None),
        ],
        M.MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in M.extract_audio_features(media).collect()}
    r = rows[1]
    assert (r.sample_rate, r.n_channels, r.duration_ms) == (rate, 2, 1000)
    mat = np.stack([left, right], axis=1).astype(float)
    want = np.sqrt((mat * mat).mean(axis=0))
    assert r.rms == pytest.approx([want[0], want[1]])
    assert rows[2].rms is None  # null payload propagates


def test_resize_nn_matches_numpy_reference():
    import numpy as np

    png = M._encode_png_gray(9, 7)
    out = M.resize_nn(png, 4, 4)
    src = np.array(
        [[(7 * x + 13 * y) % 256 for x in range(9)] for y in range(7)]
    )
    want = src[(np.arange(4) * 7) // 4][:, (np.arange(4) * 9) // 4]
    assert out.shape == (4, 4, 1)
    assert (out[:, :, 0] == want).all()
    # identity resize reproduces the image exactly
    ident = M.resize_nn(png, 9, 7)
    assert (ident[:, :, 0] == src).all()


def test_decode_wav_8bit_branch():
    # 8-bit PCM is unsigned centered at 128 — the width==1 branch
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(1000)
        w.writeframes(bytes([128, 255, 0, 128]))
    rate, ch, n, mat = M._decode_wav(buf.getvalue())
    assert (rate, ch, n) == (1000, 1, 4)
    assert mat[:, 0].tolist() == [0.0, 127.0, -128.0, 0.0]
    # 24-bit PCM is out of scope and must refuse loudly
    buf2 = io.BytesIO()
    with wave.open(buf2, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(1000)
        w.writeframes(bytes(6))
    with pytest.raises(NotImplementedError):
        M._decode_wav(buf2.getvalue())


def test_resize_nn_random_shapes():
    import random

    import numpy as np

    rnd = random.Random(11)
    for _ in range(6):
        w, h = rnd.randrange(1, 12), rnd.randrange(1, 12)
        tw, th = rnd.randrange(1, 9), rnd.randrange(1, 9)
        png = M._encode_png_gray(w, h)
        out = M.resize_nn(png, tw, th)
        src = np.array(
            [[(7 * x + 13 * y) % 256 for x in range(w)] for y in range(h)]
        )
        ys = (np.arange(th) * h) // th
        xs = (np.arange(tw) * w) // tw
        want = src[ys][:, xs]
        assert out.shape == (th, tw, 1)
        assert (out[:, :, 0] == want).all()


def test_pixel_ahash_perceptual_properties(spark):
    def gray_png(pixels, w, h):
        return M._encode_png_gray(w, h, bytes(pixels))

    w, h = 16, 14
    grad = bytes(((x * 16) // w) * 16 for y in range(h) for x in range(w))
    # local perturbation: brighten one pixel slightly
    near = bytearray(grad)
    near[5] = min(255, near[5] + 8)
    flat = bytes([77]) * (w * h)
    media = spark.createDataFrame(
        [
            Row(media_id=1, payload=bytearray(gray_png(grad, w, h)), meta=None),
            Row(media_id=2, payload=bytearray(gray_png(bytes(near), w, h)), meta=None),
            Row(media_id=3, payload=bytearray(gray_png(flat, w, h)), meta=None),
        ],
        M.MEDIA_SCHEMA,
    )
    out = {
        r.media_id: r.h
        for r in media.select(
            "media_id", M.pixel_ahash(F.col("payload")).alias("h")
        ).collect()
    }
    assert out[3] == 0  # flat image -> all cells == mean -> code 0
    assert out[1] != 0
    ham = bin(out[1] ^ out[2]).count("1")
    assert ham <= 4  # local edit moves few bits — perceptual locality


def test_augment_mips_reduces_mips_to_cosine(spark, sf_dir):
    """After norm augmentation every corpus vector has norm M, so
    cosine order against a 0-augmented query equals inner-product
    order — the reduction the SRP/IVF scale path relies on."""
    from baronbatch_etl_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    aug = S.augment_mips(emb)
    # all augmented norms equal the corpus max norm
    norms = aug.select(S.norm(F.col("embedding")).alias("n")).collect()
    mx = max(r.n for r in norms)
    assert all(abs(r.n - mx) < 1e-9 * mx for r in norms)
    for qid in (0, 3, 7):
        exact = [
            r.vec_id for r in S.mips_topk(emb, qid, 10).collect()
        ]
        q = emb.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("q_emb")
        )
        via_cos = (
            aug.filter(F.col("vec_id") != qid)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                (
                    S.dot(
                        F.slice(
                            F.col("embedding"),
                            1,
                            F.size("q_emb"),
                        ),
                        F.col("q_emb"),
                    )
                    / (S.norm(F.col("embedding")) * S.norm(F.col("q_emb")))
                ).alias("cs"),
            )
            .orderBy(F.desc("cs"), "vec_id")
            .limit(10)
            .collect()
        )
        assert [r.vec_id for r in via_cos] == exact


def test_source_entropy_bounds(spark, sf_dir):
    from baronbatch_etl_spark.queries import load_all

    rows = load_all()["t_source_entropy"].fn(spark, sf_dir).collect()
    assert len(rows) == len({r.source for r in rows})
    for r in rows:
        # every token costs at least 1 bit, at most ⌈log2 n_tokens⌉+1
        assert r.n_tokens <= r.code_len
        assert r.bits_per_token <= r.n_tokens.bit_length() + 1
        assert r.vocab_size <= r.n_tokens


def test_pq_encode_codes_and_reconstruction(spark, sf_dir):
    from baronbatch_etl_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    state = S.pq_train_state(emb, m=4, k=4, iters=2)
    rows = S.pq_encode(emb, state, m=4).collect()
    assert len(rows) == n  # every vector coded exactly once
    for r in rows:
        assert len(r.codes) == 4
        assert all(0 <= c < 4 for c in r.codes)
        assert r.qdist >= 0.0
    # codebooks must actually discriminate: more than one distinct
    # code word in use, and quantization error is finite
    assert len({tuple(r.codes) for r in rows}) > 1


def test_pq_encode_rejects_indivisible_dim(spark):
    from pyspark.sql import Row

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 0.0, 1.0]) for i in range(6)]
    )
    with pytest.raises(ValueError):
        S.pq_train_state(emb, m=2, k=2, iters=1)
    # a state whose codebooks fit m=2 cannot split a 3-dim vector either
    state = ({0: [(0, [0.0])], 1: [(0, [0.0])]}, 3)
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_encode(emb, state, m=2)


def test_pq_adc_search_agrees_with_coded_corpus(spark, sf_dir):
    """ADC distances must be exactly the LUT sums for the vectors'
    codes, and the coarse 4x4 codebook search should still put some
    genuinely-near vectors in its top-10 (sanity recall vs exact L2)."""
    from baronbatch_etl_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    state = S.pq_train_state(emb, m=4, k=4, iters=2)
    adc = S.pq_adc_topk(emb, 0, state, topk=10).collect()
    assert len(adc) == 10
    assert all(r.adc_dist >= 0.0 for r in adc)
    assert [r.adc_dist for r in adc] == sorted(r.adc_dist for r in adc)
    # exact L2 top-10 via the MIPS machinery's dot products
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            S.dot(
                F.zip_with(
                    "embedding", "q_emb", lambda x, y: x - y
                ).cast("array<double>"),
                F.zip_with(
                    "embedding", "q_emb", lambda x, y: x - y
                ).cast("array<double>"),
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(10)
        .collect()
    )
    overlap = {r.vec_id for r in adc} & {r.vec_id for r in exact}
    assert len(overlap) >= 1  # 8-bit codes: coarse, but not random


def test_ivfpq_prunes_to_query_cell(spark, sf_dir):
    """IVF-PQ results must (a) all come from the query's coarse cell
    and (b) equal the plain ADC ranking computed over that cell alone
    — pruning changes the candidate set, never the arithmetic."""
    from baronbatch_etl_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    q_label = emb.filter(F.col("vec_id") == 0).first().label
    state = S.pq_train_state(emb, m=4, k=4, iters=2)
    got = S.pq_adc_topk(emb, 0, state, topk=5, cell_col="label").collect()
    labels = {
        r.label
        for r in emb.filter(
            F.col("vec_id").isin([g.vec_id for g in got])
        ).collect()
    }
    assert labels == {q_label}
    # codebooks are corpus-global, so the pruned ranking must equal
    # the unpruned ADC ranking post-filtered to the cell
    full = S.pq_adc_topk(emb, 0, state, topk=300).collect()
    cell_ids = {
        r.vec_id
        for r in emb.filter(F.col("label") == q_label).collect()
    }
    expect = [r for r in full if r.vec_id in cell_ids][:5]
    assert [(r.vec_id, r.adc_dist) for r in got] == [
        (r.vec_id, r.adc_dist) for r in expect
    ]


def test_pq_recall_counts_adc_brute_overlap(spark, sf_dir):
    from baronbatch_etl_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    state = S.pq_train_state(emb, m=4, k=4, iters=2)
    row = S.pq_recall_at_k(emb, 0, state, k=5).first()
    assert row.k == 5
    assert 0 <= row.n_hits <= 5
    assert row.recall_at_k == row.n_hits / 5.0
    # n_hits really is the intersection of the two rankings
    adc = {r.vec_id for r in S.pq_adc_topk(emb, 0, state, topk=5).collect()}
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    brute = {
        r.vec_id
        for r in (
            emb.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                S.sqdist(F.col("embedding"), F.col("q_emb")).alias("d2"),
            )
            .orderBy("d2", "vec_id")
            .limit(5)
            .collect()
        )
    }
    assert row.n_hits == len(adc & brute)


def test_containment_subset_detected(spark):
    # BASE's shingles are a strict subset of BASE+suffix's: Jaccard is
    # well below 1, but containment must be exactly 1.0 and the inner
    # doc must be the shorter one.
    longer = BASE + " with a long appended tail of extra words " + OTHER
    docs = _docs(spark, [BASE, longer, OTHER])
    rows = {
        (r.doc_a, r.doc_b): (r.containment, r.inner_doc)
        for r in D.containment_pairs(D.signatures(docs), threshold_pct=90).collect()
    }
    assert (0, 1) in rows
    cont, inner = rows[(0, 1)]
    assert cont == 1.0
    assert inner == 0  # the contained (smaller shingle set) copy


def test_containment_tie_prefers_doc_a(spark):
    # identical docs: equal set sizes — inner_doc falls to doc_a by
    # the documented convention (mirrored in the oracle's CASE)
    docs = _docs(spark, [BASE, BASE])
    rows = D.containment_pairs(D.signatures(docs), threshold_pct=90).collect()
    assert len(rows) == 1
    assert rows[0].inner_doc == rows[0].doc_a


def test_pq_trained_state_rejects_mismatched_m(spark, sf_dir):
    """Reusing codebooks trained for a different subspace split must
    raise — the assignment join would otherwise silently drop
    subspaces and emit truncated codes."""
    from baronbatch_etl_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    state = S.pq_train_state(emb, m=4, k=4, iters=2)
    with pytest.raises(ValueError, match="requested m=8"):
        S.pq_encode(emb, state, m=8)
    with pytest.raises(ValueError, match="requested m=2"):
        S.pq_adc_topk(emb, 0, state, topk=5, m=2)


def test_signature_base_rejects_missing_columns(spark):
    """A signature frame missing a required column must raise up front
    instead of resolving against an unrelated same-named column deep in
    the plan."""
    bad = spark.createDataFrame([Row(doc_id=1, sig=[1, 2])])
    with pytest.raises(ValueError, match="missing column"):
        D.minhash_lsh_pairs(bad, threshold=0.8)
    with pytest.raises(ValueError, match="missing column"):
        D.containment_pairs(bad.select("sig"), threshold_pct=90)


def test_kmeans_mstep_centroids_exact(spark):
    """The k-means M-step must recenter to exactly the hand-computed
    quantized means, whatever its implementation shape (the aggregate
    battery tried in r10 was reverted to the posexplode partial-agg —
    this pins the BEHAVIOR, not the shape): round-2 distances pin the
    round-1 centroids bit-for-bit."""
    emb = _vecs(spark, [[0.0, 0.0], [4.0, 0.0], [1.0, 1.0], [3.0, 1.0]])
    rows = {
        r.vec_id: r for r in S.kmeans_assign(emb, k=2, iters=2).collect()
    }
    # round-1 centroids are exactly [0.5, 0.5] and [3.5, 0.5]
    assert rows[0].cluster == 0 and rows[0].dist == 0.5
    assert rows[2].cluster == 0 and rows[2].dist == 0.5
    assert rows[1].cluster == 1 and rows[1].dist == 0.5
    assert rows[3].cluster == 1 and rows[3].dist == 0.5


def test_edit_distance_base_honors_prefix_len(spark, sf_dir):
    """edit_distance_pairs re-trims the staged pfx to prefix_len: a
    narrower prefix_len must give exactly the bounded Levenshtein of
    the first prefix_len characters over the LSH candidates, and a
    prefix_len wider than the staged column must raise instead of
    silently using stored-width distances."""
    from baronbatch_etl_spark.io import load_table
    from baronbatch_etl_spark.queries.catalog_llm import _doc_signatures

    docs = load_table(spark, sf_dir, "documents")
    base = _doc_signatures(spark, sf_dir)

    def key(df):
        return sorted(
            (r.doc_a, r.doc_b, r.prefix_dist, round(r.prefix_sim, 12))
            for r in df.collect()
        )

    staged = key(D.edit_distance_pairs(base, prefix_len=16))
    pfx = docs.select("doc_id", F.substring("text", 1, 16).alias("p"))
    expect = (
        D.lsh_candidate_pairs(base)
        .join(pfx.withColumnsRenamed({"doc_id": "doc_a", "p": "pa"}), "doc_a")
        .join(pfx.withColumnsRenamed({"doc_id": "doc_b", "p": "pb"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb", 8).alias("prefix_dist"),
            F.greatest(F.length("pa"), F.length("pb")).alias("m"),
        )
        .where("prefix_dist BETWEEN 0 AND 8")
        .select(
            "doc_a",
            "doc_b",
            "prefix_dist",
            (1.0 - F.col("prefix_dist") / F.col("m")).alias("prefix_sim"),
        )
    )
    assert staged == key(expect) and staged  # non-vacuous at sf0.001
    with pytest.raises(ValueError, match="exceeds the signature frame"):
        D.edit_distance_pairs(base, prefix_len=D.STAGED_PREFIX_LEN + 1)


def test_staged_scalar_columns_match_inline(spark, sf_dir):
    """The r11 fixture columns (md5, qscore, n_tok) must be
    bit-identical to the inline expressions they replace in the
    survivor composites — md5 string equality, qscore exact double
    equality (fixed IEEE expression, parquet round-trips doubles
    exactly), n_tok integer equality."""
    from baronbatch_etl_spark.io import load_table
    from baronbatch_etl_spark.queries.catalog_llm import _doc_signatures

    docs = load_table(spark, sf_dir, "documents")
    inline = {
        r.doc_id: (r.md5, r.qscore, r.n_tok)
        for r in docs.select(
            "doc_id",
            F.md5("text").alias("md5"),
            X.quality_score("text", "n_chars").alias("qscore"),
            X.token_count("text").cast("long").alias("n_tok"),
        ).collect()
    }
    staged = {
        r.doc_id: (r.md5, r.qscore, r.n_tok)
        for r in _doc_signatures(spark, sf_dir)
        .select("doc_id", "md5", "qscore", "n_tok")
        .collect()
    }
    assert staged == inline and len(staged) > 0


def test_overlap_shape_gate_rules(spark):
    """d_source_overlap's size gate (r10 verdict #5): expansion only
    when the vocabulary provably cannot broadcast; disabled thresholds
    stay on the measured bench-scale winner. The threshold is read as
    Spark itself parsed the session's size string."""
    from baronbatch_etl_spark.queries.catalog_corpus import (
        _broadcast_threshold_bytes as threshold,
        _overlap_use_expansion as gate,
    )

    assert gate(20 * 1024**2, 10 * 1024**2)
    assert not gate(5 * 1024**2, 10 * 1024**2)
    assert not gate(99, -1)  # broadcast disabled → self-join shape
    assert not gate(-1, 10 * 1024**2)  # unknown estimate → self-join
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for size, want in (
            ("10MB", 10 * 1024**2),
            ("10485760b", 10485760),
            ("-1", -1),
        ):
            spark.conf.set(key, size)
            assert threshold(spark) == want, size
    finally:
        spark.conf.set(key, old)


def test_source_overlap_branches_agree(spark, sf_dir):
    """Both d_source_overlap shapes must produce identical rows —
    the gate may only ever change the plan, never the answer. Each
    branch is reached through the input the gate reads: a 1-byte
    broadcast threshold forces the expansion, a disabled one the
    self-join. The plan shape is checked too, so a threshold that
    failed to take effect cannot compare one shape with itself."""
    from baronbatch_etl_spark.queries import load_all

    fn = load_all()["d_source_overlap"].fn
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)

    def run(size):
        spark.conf.set(key, size)
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            rows = sorted(
                (
                    r.src_a, r.src_b, r.n_a, r.n_b, r.n_inter,
                    r.exact_jaccard, r.sig_matches, r.est_jaccard,
                )
                for r in df.collect()
            )
        finally:
            spark.conf.set(key, old)
        return "collect_set" in plan, rows

    selfjoin_expands, a = run("-1")
    expansion_expands, b = run("1")
    assert not selfjoin_expands and expansion_expands
    assert a == b and len(a) > 0


def test_token_count_fixture_matches_inline(spark, sf_dir):
    """The staged token-count table must carry exactly the inline
    explode → (source, token) counts and the per-distinct-token
    polynomial hash (the r11 token-grain fixture: consumers fold it
    into their own sketches, so the counts must be bit-exact)."""
    from baronbatch_etl_spark.io import load_table
    from baronbatch_etl_spark.queries.catalog_corpus import (
        _token_source_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    inline = {
        (r.source, r.tok): (r.c, r.hv)
        for r in docs.select(
            "source", F.explode(X.tokens("text")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .withColumn("hv", X.char_poly_hash(F.col("tok")))
        .collect()
    }
    staged = {
        (r.source, r.tok): (r.c, r.hv)
        for r in _token_source_counts(spark, sf_dir).collect()
    }
    assert staged == inline and len(staged) > 0


def test_kmv_tokset_path_matches_docs_path(spark, sf_dir):
    """kmv_source_overlap(tokset=) must equal the inline docs path —
    and reject the double-None misuse."""
    from baronbatch_etl_spark.io import load_table
    from baronbatch_etl_spark.operators import corpus as CP

    docs = load_table(spark, sf_dir, "documents")
    tokset = (
        docs.select("source", F.explode(X.tokens("text")).alias("tok"))
        .select("source", X.char_poly_hash(F.col("tok")).alias("hv"))
        .distinct()
    )
    key = lambda r: (r.source_a, r.source_b)  # noqa: E731
    a = sorted(CP.kmv_source_overlap(docs, k=16).collect(), key=key)
    b = sorted(
        CP.kmv_source_overlap(None, k=16, tokset=tokset).collect(),
        key=key,
    )
    assert a == b and len(a) > 0
    with pytest.raises(ValueError, match="docs= .* or tokset="):
        CP.kmv_source_overlap(None)


def test_band_key_sql_matches_python_reference(spark):
    """The band keys come from one SQL expression (LSH_BAND_KEYS_SQL);
    they must equal the plain-Python spelling — each band's ROWS slots
    joined by '-' — on signatures that include the empty-shingle-set
    sentinel POLY_P, its neighbours and the long range's extremes."""
    P = X.POLY_P
    near = [0, 1, P - 1, P, P + 1, 2**31 - 1, 2**31, 2**63 - 1]
    sigs = [
        [P] * D.MINHASH_K,
        [near[i % len(near)] for i in range(D.MINHASH_K)],
        [P - i for i in range(D.MINHASH_K)],
        [P + i for i in range(D.MINHASH_K)],
        list(range(D.MINHASH_K)),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "i int, sig array<bigint>"
    )
    got = {
        r.i: r.keys
        for r in df.selectExpr("i", f"{D.LSH_BAND_KEYS_SQL} AS keys").collect()
    }
    R = D.LSH_ROWS
    for i, sig in enumerate(sigs):
        want = [
            "-".join(str(v) for v in sig[b * R:(b + 1) * R])
            for b in range(D.LSH_BANDS)
        ]
        assert got[i] == want


def test_minhash_threshold_stays_a_double_literal(spark):
    """The verify filter is SQL text; its threshold must parse as a
    DOUBLE literal (a bare 0.8 is a DECIMAL in SQL, which would put a
    cast into the plan)."""
    base = spark.createDataFrame(
        [(1, [1] * D.MINHASH_K, [7, 8]), (2, [1] * D.MINHASH_K, [7, 8])],
        "doc_id bigint, sig array<bigint>, sh array<bigint>",
    )
    out = D.minhash_lsh_pairs(base, threshold=0.8)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    filters = [ln for ln in analyzed.splitlines() if "Filter (jaccard#" in ln]
    assert len(filters) == 1
    assert ">= 0.8)" in filters[0]
    assert "cast" not in filters[0].lower()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in out.collect()] == [
        (1, 2, 1.0)
    ]
