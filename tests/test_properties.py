"""Property-style checks (hypothesis) for the invariants the oracle
harness depends on: engine-portable rounding, hash parity across
arbitrary unicode, as-of join vs pandas merge_asof, safe-division
totality."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from baronbatch_etl_spark.operators.joins import asof_join
from baronbatch_etl_spark.operators.text import POLY_P

# NB: one Spark job per hypothesis example is too slow — each property
# collects the generated batch into ONE DataFrame and checks per-row.


def _poly_py(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % POLY_P
    return h


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), min_codepoint=1
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_char_poly_hash_matches_python_reference(spark, strings):
    """Spark's fold over split('') must equal the plain Python fold
    over code points for arbitrary non-surrogate unicode."""
    from baronbatch_etl_spark.operators.text import char_poly_hash

    df = spark.createDataFrame([Row(s=x) for x in strings], "s string")
    out = {r.s: r.h for r in df.select("s", char_poly_hash(F.col("s")).alias("h")).collect()}
    for s in strings:
        assert out[s] == _poly_py(s), repr(s)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=50,
    ),
    st.integers(min_value=0, max_value=4),
)
def test_round_half_up_scale_bound(spark, xs, scale):
    """round_half_up output is within half an ulp-of-scale of the
    input and idempotent at the same scale."""
    from baronbatch_etl_spark.functions.scalars import round_half_up

    df = spark.createDataFrame([Row(x=float(v)) for v in xs], "x double")
    out = df.select(
        "x",
        round_half_up("x", scale).alias("r"),
        round_half_up(round_half_up("x", scale), scale).alias("rr"),
    ).collect()
    tol = 0.5 * 10**-scale + 1e-9
    for row in out:
        assert abs(row.r - row.x) <= tol
        assert row.rr == row.r  # idempotent


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40),
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40),
)
def test_asof_join_matches_pandas_merge_asof(spark, left_offsets, right_offsets):
    """asof_join == pd.merge_asof (backward, inclusive) on one key."""
    base = datetime(2024, 1, 1)
    lt = sorted({base + timedelta(seconds=o) for o in left_offsets})
    rt = sorted({base + timedelta(seconds=o) for o in right_offsets})
    left = spark.createDataFrame(
        [Row(k="u", ts=t, lid=i) for i, t in enumerate(lt)]
    )
    right = spark.createDataFrame(
        [Row(k="u", ts=t, rid=i) for i, t in enumerate(rt)]
    )
    got = {
        r.lid: r.asof_rid
        for r in asof_join(left, right, on="ts", by="k").collect()
    }
    want_df = pd.merge_asof(
        pd.DataFrame({"ts": lt, "lid": range(len(lt))}),
        pd.DataFrame({"ts": rt, "rid": range(len(rt))}),
        on="ts",
        direction="backward",
        allow_exact_matches=True,
    )
    want = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in want_df.itertuples()
    }
    assert got == want


def test_safe_div_kda_total(spark):
    """KDA never divides by zero for any int inputs (F9 invariant)."""
    from baronbatch_etl_spark.functions.scalars import safe_div_kda

    rows = [
        Row(k=k, d=d, a=a)
        for k in (0, 1, 7)
        for d in (0, 1, 3)
        for a in (0, 2, 9)
    ]
    df = spark.createDataFrame(rows)
    out = df.select("k", "d", "a", safe_div_kda("k", "d", "a").alias("kda")).collect()
    for r in out:
        assert r.kda == round((r.k + r.a) / max(1, r.d), 2)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed min-label propagation must agree with a plain
    union-find over arbitrary small graphs (self-loops, dup edges,
    chains, cliques), and the keep-one-per-cluster drop set must be
    exactly the non-minimum nodes."""
    from baronbatch_etl_spark.operators.dedup import (
        connected_components,
        near_dup_removed,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {}
    comp_min: dict[int, int] = {}
    for n in parent:
        comp_min[find(n)] = min(comp_min.get(find(n), n), n)
    for n in parent:
        want[n] = comp_min[find(n)]

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == want
    removed = {r.doc_id for r in near_dup_removed(df).collect()}
    assert removed == {n for n, root in want.items() if root != n}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=0, max_size=12
        ).map(" ".join),
        min_size=2,
        max_size=15,
    ),
    st.sampled_from([0.3, 0.5, 0.8]),
)
def test_ngram_jaccard_prefix_filter_is_lossless(spark, texts, threshold):
    """The AllPairs prefix filter must find EXACTLY the pairs a brute
    force over all same-block combinations finds — tiny vocab forces
    heavy shingle overlap, the prefix pruning's hardest case."""
    from itertools import combinations

    from baronbatch_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
        signatures,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
            for i, t in enumerate(texts)
        ]
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            signatures(docs), threshold=threshold
        ).collect()
    }

    def shingles(t: str) -> set:
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()

    want = set()
    for (i, a), (j, b) in combinations(enumerate(texts), 2):
        if abs(len(a) - len(b)) > 10:
            continue
        sa, sb = shingles(a), shingles(b)
        if not (sa | sb):
            continue
        if len(sa & sb) / len(sa | sb) >= threshold:
            want.add((i, j))
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="ab ", max_size=6), min_size=0, max_size=40
        ).map(" ".join),
        min_size=1,
        max_size=20,
    ),
    st.sampled_from([2, 4, 16]),
)
def test_cdc_chunks_match_python_reference(texts, modulus):
    # drive the mapInPandas mapper directly on one pandas batch (no
    # Spark round trip) so hypothesis can explore many corpora; tiny
    # alphabet with spaces inside the generated tokens stresses
    # empty-token hashes (h=0 is always a boundary) and multi-chunk
    # documents
    from tests.test_fast_parity import _ref_cdc
    from baronbatch_etl_spark.operators.fast_text import (
        make_cdc_chunk_rows_mapper,
    )

    batch = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    (rows,) = make_cdc_chunk_rows_mapper(modulus)([batch])
    for i, text in enumerate(texts):
        chunks = rows[rows["doc_id"] == i]
        got = list(
            zip(
                chunks["chunk_id"].tolist(),
                chunks["n_tokens"].tolist(),
                chunks["fp"].tolist(),
            )
        )
        assert got == _ref_cdc(text, modulus), f"{text!r} mod {modulus}"


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=0, max_size=24
        ).map(" ".join),
        min_size=1,
        max_size=16,
    ),
    st.integers(min_value=2, max_value=5),
)
def test_repeated_spans_match_python_reference(spark, texts, k):
    """repeated_spans must agree with a brute-force Python sliding
    window over arbitrary tiny-vocab corpora (tiny vocab forces span
    collisions so the property is non-vacuous)."""
    from collections import Counter, defaultdict

    from baronbatch_etl_spark.operators.dedup import repeated_spans

    occ: Counter = Counter()
    docs_of: defaultdict = defaultdict(set)
    for i, t in enumerate(texts):
        toks = t.split(" ")
        for j in range(len(toks) - k + 1):
            span = " ".join(toks[j : j + k])
            occ[span] += 1
            docs_of[span].add(i)
    expect = {
        s: (len(docs_of[s]), occ[s]) for s in occ if len(docs_of[s]) >= 2
    }

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = {
        r.span: (r.n_docs, r.n_occ)
        for r in repeated_spans(df, k=k, min_docs=2).collect()
    }
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.text(alphabet="abcxyz ", max_size=20), min_size=1, max_size=20),
    st.lists(st.text(alphabet="abcxyz ", max_size=20), min_size=1, max_size=10),
)
def test_bloom_filter_is_sound(spark, corpus_keys, batch_keys):
    """Bloom soundness on arbitrary corpora: every batch key that IS
    in the corpus must hit (zero false negatives, the invariant that
    makes the filter a safe dedup pre-filter). False positives are
    allowed — only the one-sided error is checked."""
    from baronbatch_etl_spark.operators.dedup import bloom_build, bloom_probe

    corpus = spark.createDataFrame(
        [Row(text=t) for t in set(corpus_keys)], "text string"
    )
    batch = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(batch_keys)],
        "doc_id long, text string",
    )
    hits = {
        r.doc_id: r.bloom_hit
        for r in bloom_probe(batch, bloom_build(corpus)).collect()
    }
    members = set(corpus_keys)
    for i, t in enumerate(batch_keys):
        if t in members:
            assert hits[i], f"false negative for {t!r}"


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["en", "fr", "de"])),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 6),
)
def test_eval_sample_exact_k_and_repartition_stable(spark, rows, parts):
    """Exact-k stratified sampling: every stratum yields exactly
    min(k, |stratum|) rows, and the SELECTION is invariant under
    input partitioning (the reproducibility contract)."""
    from collections import Counter

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    k = 5
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")

    def sample(frame):
        h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
        w = Window.partitionBy("lang").orderBy("h", "doc_id")
        return (
            frame.select("doc_id", "lang", h.alias("h"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("doc_id", "lang")
        )

    a = sorted(map(tuple, sample(df).collect()))
    b = sorted(map(tuple, sample(df.repartition(parts)).collect()))
    assert a == b  # partitioning-invariant selection
    sizes = Counter(r[1] for r in a)
    want = Counter({lang: min(k, n) for lang, n in
                    Counter(lang for _, lang in rows).items()})
    assert sizes == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(-100, 200), min_size=1, max_size=50),
)
def test_quarantine_is_a_partition(spark, vals):
    """good ∪ bad == input and good ∩ bad == ∅ for any rule set —
    the keep-and-tag contract (never drop silently)."""
    from pyspark.sql import functions as F

    from baronbatch_etl_spark.operators import validate as V

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id LONG, v LONG"
    )
    good, bad = V.quarantine(
        df, {"neg": F.col("v") < 0, "big": F.col("v") > 100}
    )
    g = {r.id for r in good.collect()}
    b = {r.id for r in bad.collect()}
    assert g | b == set(range(len(vals)))
    assert not (g & b)
    for r in bad.collect():  # tags name only genuinely violated rules
        v = vals[r.id]
        expect = ",".join(
            n for n in ("big", "neg") if (v > 100 if n == "big" else v < 0)
        )
        assert set(r._violations.split(",")) == set(expect.split(","))


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=400),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=40,
    )
)
def test_cms_never_undercounts_and_merges_by_addition(spark, tokens):
    # the CMS contract on EVERY token (not just the probed top-k):
    # est = min_j cell[j][bucket_j] >= true count; and the grid over a
    # union is the cell-wise sum of the split grids (mergeable state)
    from collections import Counter

    from baronbatch_etl_spark.operators import corpus as C
    from baronbatch_etl_spark.operators.text import char_poly_hash

    df = spark.createDataFrame([(t,) for t in tokens], "tok STRING")
    hashed = (
        df.groupBy("tok").count()
        .select("tok", F.col("count").alias("c"), char_poly_hash(F.col("tok")).alias("hv"))
    )
    grid = {
        (r.j, r.bucket): r.cell
        for r in C.cms_grid_from_hashes(hashed, weight="c").collect()
    }
    # python replica of the bucket arithmetic
    def buckets(h):
        return [
            (j, ((C.CMS_A[j] * h + C.CMS_B[j]) % POLY_P) % C.CMS_W)
            for j in range(C.CMS_D)
        ]

    true = Counter(tokens)
    for tok, n in true.items():
        est = min(grid[b] for b in buckets(_poly_py(tok)))
        assert est >= n

    # mergeability: split by parity of position, grids add cell-wise
    left = [t for i, t in enumerate(tokens) if i % 2 == 0]
    right = [t for i, t in enumerate(tokens) if i % 2 == 1]
    merged: dict = {}
    for part in (left, right):
        if not part:
            continue
        pdf = spark.createDataFrame([(t,) for t in part], "tok STRING")
        ph = (
            pdf.groupBy("tok").count()
            .select("tok", F.col("count").alias("c"), char_poly_hash(F.col("tok")).alias("hv"))
        )
        for r in C.cms_grid_from_hashes(ph, weight="c").collect():
            merged[(r.j, r.bucket)] = merged.get((r.j, r.bucket), 0) + r.cell
    assert merged == grid


def _lev_py(a: str, b: str) -> int:
    # textbook DP reference
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcd ", min_size=0, max_size=30),
            st.text(alphabet="abcd ", min_size=0, max_size=30),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_thresholded_levenshtein_matches_reference(spark, pairs):
    # Spark's 3-arg levenshtein must equal the textbook DP when within
    # the threshold and return -1 beyond it — the exact contract
    # edit_distance_pairs filters on
    k = 8
    df = spark.createDataFrame(pairs, "a STRING, b STRING")
    got = df.select(
        "a", "b", F.levenshtein("a", "b", k).alias("d")
    ).collect()
    for r in got:
        want = _lev_py(r.a, r.b)
        if want <= k:
            assert r.d == want, (r.a, r.b)
        else:
            assert r.d == -1, (r.a, r.b)


@given(
    texts=st.lists(
        st.text(
            # any non-surrogate codepoint (payloads are UTF-8 bytes)
            alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=200,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=20, deadline=None)
def test_payload_ahash_matches_python_reference(spark, texts):
    # the Arrow aHash (batch cumsum + slice indexing) must equal a
    # direct per-row Python transcription of the spec on arbitrary
    # unicode — slice boundaries are CHARACTER-indexed
    from baronbatch_etl_spark.operators import multimodal as M

    def ref(t: str) -> int:
        cps = [ord(c) for c in t]
        L, n = len(cps), M.AHASH_BITS
        total = sum(cps)
        fp = 0
        for i in range(n):
            s = sum(cps[i * L // n : (i + 1) * L // n])
            if n * s > total:
                fp |= 1 << i
        return fp

    media = M.documents_as_media(
        spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
        )
    )
    got = {r.media_id: r.fp for r in M.payload_fingerprints(media).collect()}
    assert got == {i: ref(t) for i, t in enumerate(texts)}


@given(
    fps=st.lists(
        st.integers(min_value=0, max_value=(1 << 56) - 1),
        min_size=2,
        max_size=24,
        unique=True,
    )
)
@settings(max_examples=15, deadline=None)
def test_fingerprint_banding_pigeonhole_guarantee(spark, fps):
    # 4 bands over 56 bits: every pair within hamming <= 3 MUST share
    # at least one intact 14-bit band (pigeonhole), so banded blocking
    # is lossless there; and no emitted pair may exceed max_hamming
    from baronbatch_etl_spark.operators import multimodal as M

    frame = spark.createDataFrame(
        [Row(media_id=i, fp=f) for i, f in enumerate(fps)]
    )
    got = {
        (r.media_a, r.media_b): r.hamming
        for r in M.fingerprint_near_pairs(frame, max_hamming=3).collect()
    }
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            d = bin(fps[i] ^ fps[j]).count("1")
            if d <= 3:
                assert got.get((i, j)) == d, (i, j, d)
    assert all(h <= 3 for h in got.values())


@given(
    lefts=st.lists(
        st.integers(min_value=-(10**8), max_value=10**8),  # micros
        min_size=1, max_size=12,
    ),
    rights=st.lists(
        st.integers(min_value=-(10**8), max_value=10**8),
        min_size=1, max_size=12,
    ),
    interval_ms=st.integers(min_value=1, max_value=5000),
    bucket_ms=st.integers(min_value=1, max_value=7000),
)
@settings(max_examples=15, deadline=None)
def test_range_join_matches_bruteforce(
    spark, lefts, rights, interval_ms, bucket_ms
):
    # the banded equi-join must produce EXACTLY the brute-force pair
    # set 0 <= l − r < interval (microsecond precision, pre-epoch
    # timestamps included) for any bucket width — lossless banding
    from baronbatch_etl_spark.operators.joins import range_join_bucketed

    ldf = spark.createDataFrame(
        [Row(lid=i, lts=datetime(1970, 1, 1) + timedelta(microseconds=v))
         for i, v in enumerate(lefts)]
    )
    rdf = spark.createDataFrame(
        [Row(rid=i, rts=datetime(1970, 1, 1) + timedelta(microseconds=v))
         for i, v in enumerate(rights)]
    )
    out = range_join_bucketed(ldf, rdf, "lts", "rts", interval_ms, bucket_ms)
    got = sorted((r.lid, r.rid) for r in out.collect())
    want = sorted(
        (i, j)
        for i, lv in enumerate(lefts)
        for j, rv in enumerate(rights)
        if 0 <= lv - rv < interval_ms * 1000
    )
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # user
            st.integers(min_value=0, max_value=20),  # ts second (ties!)
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_funnel_fold_matches_chained_min_semantics(spark, events):
    """The w_funnel sequence fold must equal the DECLARATIVE chained-
    min semantics (t1 = min view ts; t2 = min click ts > t1; t3 = min
    purchase ts > t2) on arbitrary sequences — including heavy
    timestamp ties, which is where a sort-order-dependent fold would
    diverge."""
    from baronbatch_etl_spark.queries.catalog_windows import funnel_state

    base = datetime(2024, 1, 1)
    rows = [
        Row(user_id=u, ts=base + timedelta(seconds=s), et=et)
        for (u, s, et) in events
    ]

    def chained_min(evs):
        t1 = min((ts for ts, et in evs if et == "view"), default=None)
        t2 = (
            min(
                (ts for ts, et in evs if et == "click" and ts > t1),
                default=None,
            )
            if t1 is not None
            else None
        )
        t3 = (
            min(
                (ts for ts, et in evs if et == "purchase" and ts > t2),
                default=None,
            )
            if t2 is not None
            else None
        )
        return (t1, t2, t3)

    want = {}
    for r in rows:
        want.setdefault(r.user_id, []).append((r.ts, r.et))
    want = {u: chained_min(evs) for u, evs in want.items()}

    df = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP, et STRING")
    got = {
        r.user_id: (r.s.v, r.s.c, r.s.p)
        for r in df.filter(F.col("et").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(funnel_state().alias("s"))
        .collect()
    }
    for u, triple in want.items():
        assert got.get(u, (None, None, None)) == triple, (u, events)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # customer
            st.integers(min_value=10, max_value=14),  # supplier
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_hits_matches_dense_reference(spark, pairs):
    # unnormalised HITS must equal the dense integer recurrence
    # a1=indeg, h_i=E·a_i, a_{i+1}=Eᵀ·h_i exactly (BIGINT arithmetic,
    # any bipartite shape, duplicate-free pairs)
    from baronbatch_etl_spark.operators import graph as G

    pdf = spark.createDataFrame(pairs, "c long, s long")
    auth, hub = G.hits(pdf, iters=2)
    cs = sorted({c for c, _ in pairs})
    ss = sorted({s for _, s in pairs})
    a = {s: sum(1 for _, s2 in pairs if s2 == s) for s in ss}
    h = {c: sum(a[s] for c2, s in pairs if c2 == c) for c in cs}
    a2 = {s: sum(h[c] for c, s2 in pairs if s2 == s) for s in ss}
    h2 = {c: sum(a2[s] for c2, s in pairs if c2 == c) for c in cs}
    assert {(r.s, r.score) for r in auth.collect()} == set(a2.items())
    assert {(r.c, r.score) for r in hub.collect()} == set(h2.items())


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=10, max_value=13),
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_pagerank_matches_dense_reference_random(spark, pairs):
    # distributed fixed-point PageRank vs a driver-side dense power
    # iteration on arbitrary undirected bipartite graphs — float
    # tolerance only (the 1e-9 quantisation is below 1e-7)
    from baronbatch_etl_spark.operators import graph as G

    pdf = spark.createDataFrame(pairs, "a long, b long")
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    nodes = sorted({x for e in edges for x in e})
    deg = {v: sum(1 for s, _ in edges if s == v) for v in nodes}
    n = len(nodes)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        nxt = {v: 0.15 / n for v in nodes}
        for s, d in edges:
            nxt[d] += 0.85 * ranks[s] / deg[s]
        ranks = nxt
    got = {
        r.node: r.rank
        for r in G.pagerank(
            G.undirected_edges(pdf, "a", "b", disjoint=True), iters=3
        ).collect()
    }
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - ranks[v]) < 1e-7


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-5000, max_value=5000),  # start
            st.integers(min_value=0, max_value=4000),  # length
        ),
        min_size=1,
        max_size=25,
    ),
    st.sampled_from([700, 1000, 2500, 6000]),  # bucket width
)
def test_interval_overlap_join_matches_bruteforce(spark, ivs, bucket):
    # banding + exactly-once ownership must reproduce the quadratic
    # overlap pair set for any lengths (incl. zero-length and spans
    # crossing many buckets) and any bucket width; negative starts
    # exercise floor-division banding
    from baronbatch_etl_spark.operators.joins import interval_overlap_join

    rows = [(i, s, s + ln) for i, (s, ln) in enumerate(ivs)]
    df = spark.createDataFrame(rows, "iid long, s long, e long")
    got = sorted(
        (r.a_id, r.b_id, r.overlap_ms)
        for r in interval_overlap_join(
            df, "iid", "s", "e", bucket_ms=bucket
        ).collect()
    )
    want = sorted(
        (i, j, min(e1, e2) - max(s1, s2))
        for i, s1, e1 in rows
        for j, s2, e2 in rows
        if i < j and max(s1, s2) < min(e1, e2)
    )
    assert got == want


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_triangle_stats_matches_bruteforce_random(spark, raw_pairs):
    """Degree-oriented triangle census vs an itertools triple scan on
    arbitrary generated graphs (self-loops dropped, pairs
    canonicalised) — count, edges and wedges all exact."""
    import itertools

    from baronbatch_etl_spark.operators import graph as G

    edges = sorted(
        {(min(a, b), max(a, b)) for a, b in raw_pairs if a != b}
    )
    if not edges:
        return
    eset = set(edges)
    nodes = sorted({x for e in edges for x in e})
    tri = sum(
        1
        for x, y, z in itertools.combinations(nodes, 3)
        if (x, y) in eset and (y, z) in eset and (x, z) in eset
    )
    deg = {v: sum(1 for e in edges if v in e) for v in nodes}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    row = G.triangle_stats(
        spark.createDataFrame(edges, "a long, b long")
    ).first()
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        len(nodes),
        len(edges),
        wedges,
        tri,
    )


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # key
            st.integers(min_value=0, max_value=3),  # old value (None-able below)
            st.integers(min_value=0, max_value=3),  # new value
            st.booleans(),  # in old
            st.booleans(),  # in new
        ),
        min_size=1,
        max_size=24,
        unique_by=lambda t: t[0],
    )
)
def test_cdc_roundtrip_random(spark, rows):
    """apply_changelog(old, snapshot_diff(old, new)) == new for
    arbitrary generated snapshots (incl. NULL values via the 0
    sentinel mapped to None)."""
    from baronbatch_etl_spark.pipeline.medallion import (
        apply_changelog,
        snapshot_diff,
    )

    old_rows = [
        (k, None if ov == 0 else f"v{ov}")
        for k, ov, _, in_old, _ in rows
        if in_old
    ]
    new_rows = [
        (k, None if nv == 0 else f"v{nv}")
        for k, _, nv, _, in_new in rows
        if in_new
    ]
    if not old_rows and not new_rows:
        return
    old = spark.createDataFrame(old_rows or [(None, None)], "k long, s string").filter(
        F.col("k").isNotNull()
    )
    new = spark.createDataFrame(new_rows or [(None, None)], "k long, s string").filter(
        F.col("k").isNotNull()
    )
    log = snapshot_diff(old, new, keys=["k"], compare_cols=["s"])
    rebuilt = apply_changelog(old, log, keys=["k"], compare_cols=["s"])
    assert rebuilt.exceptAll(new).count() == 0
    assert new.exceptAll(rebuilt).count() == 0


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=4, max_value=14),  # words per base doc
        min_size=2,
        max_size=6,
    ),
    st.data(),
)
def test_containment_finds_every_strict_subset(spark, sizes, data):
    """The documented probability-1 recall: a doc whose shingle set is
    a strict subset of another's (here: a prefix quoted whole inside
    a longer doc) must ALWAYS surface as a full-containment pair —
    rare-shingle blocking posts the contained doc's shingles against
    the full inverted index, so the container cannot be missed."""
    from pyspark.sql import Row

    from baronbatch_etl_spark.operators import dedup as D

    # distinct vocabularies per doc so only intended pairs contain
    docs, expected = [], set()
    doc_id = 0
    for i, n_words in enumerate(sizes):
        words = [f"w{i}x{j}" for j in range(n_words)]
        full = " ".join(words)
        docs.append(Row(doc_id=doc_id, text=full, lang="en",
                        source=f"s{i}", n_chars=len(full)))
        container_id = doc_id
        doc_id += 1
        take = data.draw(
            st.integers(min_value=3, max_value=n_words - 1),
            label=f"prefix_len_{i}",
        )
        prefix = " ".join(words[:take])
        docs.append(Row(doc_id=doc_id, text=prefix, lang="en",
                        source=f"s{i}", n_chars=len(prefix)))
        expected.add((container_id, doc_id))
        doc_id += 1
    got = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
        for r in D.containment_pairs(
            D.signatures(spark.createDataFrame(docs)), threshold_pct=100
        ).collect()
    }
    assert expected <= got


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=120
    ),
    k=st.integers(min_value=1, max_value=9),
    parts=st.sampled_from([2, 5, 16]),
)
def test_global_rank_matches_window_battery(spark, vals, k, parts):
    # distributed exact rank == Spark's own single-partition window
    # functions on ANY value multiset (ids are the unique tiebreak),
    # any bucket count, any partitioning
    from pyspark.sql import Window

    from baronbatch_etl_spark.operators.ranking import (
        cume_dist_col,
        global_ntile,
        global_row_number,
        percent_rank_col,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    w = Window.orderBy("v", "id")
    ref = {
        r.id: (r.rk, r.b, round(r.pr, 12), round(r.cd, 12))
        for r in df.select(
            "id",
            F.row_number().over(w).cast("long").alias("rk"),
            F.ntile(k).over(w).alias("b"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        ).collect()
    }
    ranked = global_row_number(
        df,
        [F.col("v"), F.col("id")],
        rank_name="rk",
        total_name="n",
        num_partitions=parts,
    )
    got = {
        r.id: (r.rk, round(r.pr, 12), round(r.cd, 12))
        for r in ranked.select(
            "id",
            "rk",
            percent_rank_col("rk", "n").alias("pr"),
            cume_dist_col("rk", "n").alias("cd"),
        ).collect()
    }
    buckets = {
        r.id: r.b
        for r in global_ntile(
            df,
            [F.col("v"), F.col("id")],
            k,
            bucket_name="b",
            num_partitions=parts,
        ).collect()
    }
    spark.catalog.clearCache()
    assert got == {i: (t[0], t[2], t[3]) for i, t in ref.items()}
    assert buckets == {i: t[1] for i, t in ref.items()}


#: Sorted, deduped hash sets — the signature frame's ``sh`` contract.
_HASH_SETS = st.lists(
    st.integers(min_value=0, max_value=40), max_size=12, unique=True
).map(sorted)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(_HASH_SETS, _HASH_SETS), max_size=20))
def test_jaccard_sql_matches_python_sets(spark, pairs):
    """JACCARD_SQL is the exact IEEE double |A∩B| / |A∪B| of Python
    set arithmetic, and 0.0 (not DIVIDE_BY_ZERO) for two empty sets
    under ANSI. Every example also carries the edge cases: both empty,
    one empty, disjoint, identical and subset."""
    from baronbatch_etl_spark.operators.dedup import JACCARD_SQL

    edges = [
        ([], []),
        ([3, 7], []),
        ([], [5]),
        ([1, 2], [3, 4]),
        ([1, 4, 9], [1, 4, 9]),
        ([2, 5], [1, 2, 5, 9]),
    ]
    rows = [(i, a, b) for i, (a, b) in enumerate(edges + pairs)]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = dict(
            spark.createDataFrame(
                rows, "i int, sh_a array<bigint>, sh_b array<bigint>"
            )
            .selectExpr("i", f"{JACCARD_SQL} AS j")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    for i, a, b in rows:
        union = set(a) | set(b)
        want = len(set(a) & set(b)) / len(union) if union else 0.0
        assert got[i] == want, (a, b)
