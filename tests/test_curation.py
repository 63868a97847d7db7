"""Unit tests for the corpus-curation catalog (contamination, packing,
mixture sampling, PII redaction, length-band filtering) — invariants on
the real sf0.001 tables plus targeted inline fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from baronbatch_etl_spark.queries import load_all

REG = load_all()


def test_contamination_excludes_benchmark_docs(spark, sf_dir):
    out = REG["t_contamination"].fn(spark, sf_dir).collect()
    assert all(r.doc_id % 97 != 0 for r in out)
    assert all(r.n_shared >= 1 for r in out)


def test_pack_sequences_partitions_every_doc(spark, sf_dir):
    from baronbatch_etl_spark.io import load_table

    out = REG["t_pack_sequences"].fn(spark, sf_dir)
    agg = out.agg(
        F.sum("n_docs").alias("docs"), F.sum("bin_tokens").alias("toks")
    ).first()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_toks = docs.select(
        F.sum(
            F.when(F.length("text") == 0, 0).otherwise(
                F.size(F.split("text", " "))
            )
        ).alias("t")
    ).first().t
    # every document lands in exactly one bin; token mass is conserved
    assert agg.docs == n_docs
    assert agg.toks == n_toks


def test_pack_sequences_bins_are_contiguous(spark, sf_dir):
    # within a (source, shard) stream, bin_id ranges must not overlap:
    # ordering bins by bin_id also orders them by doc_id span
    rows = (
        REG["t_pack_sequences"].fn(spark, sf_dir)
        .orderBy("source", "pack_shard", "bin_id")
        .collect()
    )
    prev = {}
    for r in rows:
        key = (r.source, r.pack_shard)
        if key in prev:
            assert r.first_doc > prev[key], f"overlapping bins in {key}"
        prev[key] = r.last_doc


def test_mixture_sample_rates_and_determinism(spark, sf_dir):
    out1 = {r.doc_id for r in REG["t_mixture_sample"].fn(spark, sf_dir).collect()}
    out2 = {r.doc_id for r in REG["t_mixture_sample"].fn(spark, sf_dir).collect()}
    assert out1 == out2  # reproducible across runs
    # realized rate per lang stays in a loose band around the target
    from baronbatch_etl_spark.io import load_table
    from baronbatch_etl_spark.queries.catalog_curation import _MIX_RATES

    docs = load_table(spark, sf_dir, "documents")
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = (
        REG["t_mixture_sample"].fn(spark, sf_dir)
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    )
    for r in kept:
        target = _MIX_RATES[r.lang] / 100
        realized = r.n / totals[r.lang]
        assert realized <= min(1.0, target * 3 + 0.1)
        assert realized >= target / 4


def test_pii_redact_masks_everything(spark, sf_dir):
    out = REG["t_pii_redact"].fn(spark, sf_dir)
    assert out.filter(F.col("clean_text").contains("@")).count() == 0
    counts = out.agg(
        F.min("n_emails").alias("mn"), F.max("n_emails").alias("mx")
    ).first()
    assert counts.mn >= 1  # the synthetic contact line always fires
    assert out.filter(~F.col("clean_text").contains("<EMAIL>")).count() == 0
    assert out.filter(~F.col("clean_text").contains("<PHONE>")).count() == 0


def test_length_filter_trims_tails_per_lang(spark, sf_dir):
    from baronbatch_etl_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = REG["t_length_filter"].fn(spark, sf_dir)
    # per language: the minimum- and maximum-length docs are gone
    # (strictly, the bottom/top 5% by percent_rank), and survivors
    # keep their original n_chars
    for lang_row in docs.select("lang").distinct().collect():
        lang = lang_row.lang
        n = docs.filter(F.col("lang") == lang).count()
        k = kept.filter(F.col("lang") == lang).count()
        if n >= 21:  # 5% tails are non-empty only when n*0.05 >= 1 rank step
            assert k < n
        assert k >= int(n * 0.85)
    joined = kept.alias("k").join(
        docs.alias("d"), "doc_id"
    ).filter(F.col("k.n_chars") != F.col("d.n_chars"))
    assert joined.count() == 0


def test_mixture_plan_waterfill_exact(spark, monkeypatch, tmp_path):
    # hand-computed waterfill: avail {1, 2, 7, 7}, budget = 17*3//5 = 10
    # -> sources 1 and 2 capped (keep all), residual 7 splits 4/3 with
    # the +1 remainder going to the smaller-ranked uncapped source
    import baronbatch_etl_spark.queries.catalog_curation as C

    rows = []
    did = 0
    for src, toks in (("s1", 1), ("s2", 2), ("s3", 7), ("s4", 7)):
        text = " ".join(["w"] * toks)
        rows.append((did, text, "en", src, len(text)))
        did += 1
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    d = str(tmp_path / "documents.parquet")
    df.write.parquet(d)
    out = {
        r.source: (r.avail_tokens, r.alloc_tokens, r.capped)
        for r in C.t_mixture_plan(spark, str(tmp_path)).collect()
    }
    assert out == {
        "s1": (1, 1, True),
        "s2": (2, 2, True),
        "s3": (7, 4, False),  # smaller rank gets the remainder token
        "s4": (7, 3, False),
    }
    assert sum(a for _, a, _ in out.values()) == 10  # exactly the budget


def test_mixture_plan_invariants_on_fixture(spark, sf_dir):
    import baronbatch_etl_spark.queries.catalog_curation as C

    rows = C.t_mixture_plan(spark, sf_dir).collect()
    budget = sum(r.avail_tokens for r in rows) * 3 // 5
    assert sum(r.alloc_tokens for r in rows) == budget  # spends it all
    for r in rows:
        assert 0 <= r.alloc_tokens <= r.avail_tokens
        if r.capped:
            assert r.alloc_tokens == r.avail_tokens
    unc = sorted(r.alloc_tokens for r in rows if not r.capped)
    if unc:
        assert unc[-1] - unc[0] <= 1  # even split, remainder ±1


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    """Every verified near-dup pair must land in ONE split — the whole
    point of splitting by cluster root instead of doc id."""
    from baronbatch_etl_spark.operators import dedup as D
    from baronbatch_etl_spark.io import load_table

    out = REG["t_split_leakage_safe"].fn(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(
        D.signatures(load_table(spark, sf_dir, "documents")), threshold=0.8
    )
    straddlers = (
        pairs.join(
            out.select(F.col("doc_id").alias("doc_a"),
                       F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            out.select(F.col("doc_id").alias("doc_b"),
                       F.col("split").alias("split_b")),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert straddlers == 0
    # covers every document exactly once, root is a member id
    rows = out.collect()
    assert len(rows) == len({r.doc_id for r in rows})
    assert all(r.root <= r.doc_id or r.root in {x.doc_id for x in rows}
               for r in rows)


def test_leakage_safe_split_matches_plain_split_for_singletons(spark, sf_dir):
    """Documents outside any near-dup cluster get the identical bucket
    t_split_assign would give them (root == doc_id ⇒ same hash)."""
    out = REG["t_split_leakage_safe"].fn(spark, sf_dir)
    plain = REG["t_split_assign"].fn(spark, sf_dir)
    joined = (
        out.filter(F.col("root") == F.col("doc_id"))
        .select("doc_id", F.col("split").alias("leak_split"))
        .join(plain.select("doc_id", "split"), "doc_id")
    )
    assert joined.filter(F.col("leak_split") != F.col("split")).count() == 0


def test_perplexity_bucket_terciles_and_ordering(spark, sf_dir):
    rows = REG["t_perplexity_bucket"].fn(spark, sf_dir).collect()
    sizes = {b: 0 for b in ("head", "middle", "tail")}
    for r in rows:
        sizes[r.bucket] += 1
        assert r.surprisal >= r.n_tokens  # every token contributes ≥1
        assert abs(r.ppl_proxy - r.surprisal / r.n_tokens) == 0.0
    # ntile(3): bucket sizes differ by at most one
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # head has the lowest perplexity proxies: max(head) <= min(tail)
    by = sorted(rows, key=lambda r: (r.ppl_proxy, r.doc_id))
    n = len(by)
    assert all(r.bucket == "head" for r in by[: n // 3])
    assert all(r.bucket == "tail" for r in by[-(n // 3):])
