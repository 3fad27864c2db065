"""Corpus-prep operators (operators/prep.py): decontamination, sequence
packing, PII redaction, per-source quotas."""

from geist_spark.operators.prep import (
    decontaminate,
    pack_sequences,
    redact_pii,
    source_quota,
)


def test_decontaminate_flags_ngram_overlap(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated content about databases and spark"),
            (3, "we saw the quick brown fox jumps over a fence"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps over things")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in decontaminate(docs, eval_docs, k=5).collect()}
    # docs 1 and 3 share the 5-gram "the quick brown fox jumps"
    assert got[1]["contaminated"] and got[3]["contaminated"]
    assert not got[2]["contaminated"]
    assert got[2]["n_contaminated_shingles"] == 0
    assert got[1]["n_contaminated_shingles"] >= 1


def test_pack_sequences_bins_by_running_token_sum(spark):
    # 4 docs x 3 tokens in one source; budget 5 tokens:
    # exclusive cumsums 0,3,6,9 -> bins 0,0,1,1
    docs = spark.createDataFrame(
        [(i, "s1", "a b c") for i in range(1, 5)],
        "doc_id long, source string, text string",
    )
    got = sorted(
        (r["bin_id"], r["n_docs"], r["total_tokens"])
        for r in pack_sequences(docs, budget_tokens=5).collect()
    )
    assert got == [(0, 2, 6), (1, 2, 6)]


def test_redact_pii_strips_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org or 192.168.0.1 "
             "call +1 555-010-2345 please")],
        "doc_id long, text string",
    )
    r = redact_pii(docs).collect()[0]
    t = r["redacted_text"]
    assert "<EMAIL>" in t and "<IP>" in t and "<PHONE>" in t
    assert "bob.smith" not in t and "192.168" not in t and "555-010" not in t
    assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (1, 1, 1)


def test_source_quota_caps_and_is_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, "a" if i < 20 else "b", "t") for i in range(30)],
        "doc_id long, source string, text string",
    )
    kept1 = sorted(r["doc_id"] for r in source_quota(docs, 5).collect())
    kept2 = sorted(r["doc_id"] for r in source_quota(docs, 5).collect())
    assert kept1 == kept2  # deterministic
    by_src = source_quota(docs, 5).groupBy("source").count().collect()
    assert all(r["count"] == 5 for r in by_src)
    # a different salt draws a different subset
    kept3 = sorted(r["doc_id"] for r in source_quota(docs, 5, salt="z").collect())
    assert kept1 != kept3


def test_repetition_stats_gopher_fractions(spark):
    from geist_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a a b"),               # dup tokens 2/3; bigrams "a a","a b"
            (2, "x y x y x y"),         # fully repetitive
            (3, "unique words only here"),
            (4, "w"),                   # degenerate: no bigrams/trigrams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["dup_token_frac"] == 2 / 3
    assert rows[1]["top_bigram_frac"] == 1 / 2  # best bigram count 1 of 2
    assert rows[1]["dup_trigram_frac"] == 0.0
    # "x y" appears 3x of 5 bigrams; every trigram is duplicated
    assert rows[2]["dup_token_frac"] == 1.0
    assert rows[2]["top_bigram_frac"] == 3 / 5
    assert rows[2]["dup_trigram_frac"] == 1.0
    assert rows[3]["dup_token_frac"] == 0.0
    # single-token doc: denominators clamp to 1, all fractions 0
    assert (
        rows[4]["dup_token_frac"],
        rows[4]["top_bigram_frac"],
        rows[4]["dup_trigram_frac"],
    ) == (0.0, 0.0, 0.0)


def test_chunk_documents_overlap_and_tail(spark):
    from geist_spark.operators.prep import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))],  # 10 tokens
        "doc_id long, text string",
    )
    rows = sorted(
        (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    )
    # starts at tokens 0,3,6,9 -> three full 4-token chunks + 1-token tail
    assert rows == [
        (0, "t0 t1 t2 t3", 4),
        (1, "t3 t4 t5 t6", 4),
        (2, "t6 t7 t8 t9", 4),
        (3, "t9", 1),
    ]
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, stride=0)


def test_corpus_pipeline_gates_are_monotone(spark):
    """Each pipeline gate only removes docs, and the per-source totals
    reconcile with counting the surviving docs directly."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = E.queries()["p_corpus_pipeline"](spark, sf)
    rows = {r["source"]: r for r in out.collect()}
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    per_source = {
        r["source"]: r["count"]
        for r in docs.groupBy("source").count().collect()
    }
    assert rows  # something survives
    for src, r in rows.items():
        assert 0 < r["n_docs"] <= min(40, per_source[src])
        assert r["total_tokens"] >= r["n_docs"]  # >= 1 token per doc


def test_bloom_no_false_negatives_and_fp_rate(spark):
    from pyspark.sql import functions as F

    from geist_spark.operators.prep import bloom_build, bloom_might_contain

    m_bits, j = 1 << 16, 4
    keys = spark.range(500).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    image = bloom_build(keys, "k", m_bits=m_bits, num_hashes=j)
    probes = spark.range(5000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    hits = (
        probes.join(F.broadcast(image))
        .filter(bloom_might_contain(F.col("words"), F.col("k"), m_bits, j))
        .count()
    )
    # all 500 inserted keys MUST probe true (no false negatives);
    # 4500 absent keys allow a small FP margin (expected ~(500*4/65536)^4)
    assert hits >= 500
    assert hits <= 520


def test_bloom_build_rejects_unaligned_m(spark):
    import pytest

    from geist_spark.operators.prep import bloom_build

    with pytest.raises(ValueError):
        bloom_build(spark.range(1), "id", m_bits=100)


def test_bloom_decontaminate_matches_exact(spark):
    from pyspark.sql import functions as F

    from geist_spark.operators.prep import bloom_decontaminate, decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    exact = {
        r["doc_id"]: (r["n_contaminated_shingles"], r["contaminated"])
        for r in decontaminate(docs, eval_docs, k=5).collect()
    }
    bloom = bloom_decontaminate(docs, eval_docs, k=5).collect()
    assert len(bloom) == len(exact)
    for r in bloom:
        n_exact, flag = exact[r["doc_id"]]
        assert r["n_contaminated_shingles"] == n_exact
        assert r["contaminated"] == flag
        # bloom candidates always include every true hit
        assert r["n_candidate_shingles"] >= n_exact


def test_hist_rollup_merge_quantiles(spark):
    """Merged fine-grain histograms give the same quantiles as a
    direct coarse histogram, and lower-edge estimates are within one
    bin width of exact percentiles."""
    from pyspark.sql import functions as F

    from geist_spark.operators.sketch import (
        hist_merge,
        hist_quantiles,
        hist_rollup,
    )

    df = spark.range(10_000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") % 2).alias("fine"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    fine = hist_rollup(df, ["g", "fine"], "v", lo=0.0, hi=100.0, n_bins=50)
    merged = hist_merge(fine, ["g"])
    direct = hist_rollup(df, ["g"], "v", lo=0.0, hi=100.0, n_bins=50)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )

    q = hist_quantiles(merged, ["g"], [0.5, 0.9], 0.0, 100.0, 50).collect()
    for r in q:
        # ids 0..99 uniform -> p50 ~ 50, p90 ~ 90; bin width 2
        assert abs(r["p50"] - 50.0) <= 2.0
        assert abs(r["p90"] - 90.0) <= 2.0
        assert r["n_values"] > 0


def test_hist_rollup_clamps_out_of_range(spark):
    from pyspark.sql import functions as F

    from geist_spark.operators.sketch import hist_rollup

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (99.0,), (150.0,), (None,)], "v double"
    )
    rows = {r["bin"]: r["n"] for r in hist_rollup(df, [], "v", 0.0, 100.0, 10).collect()}
    assert rows[0] == 2  # -5 clamps into bin 0
    assert rows[9] == 2  # 150 clamps into bin 9
    assert sum(rows.values()) == 4  # NULL dropped


def test_cms_overcount_only_and_merge_equivalence(spark):
    """CMS estimates never undercount; per-group cells merged globally
    equal a direct global rollup; unseen items estimate to 0 (or a
    collision overcount, never negative)."""
    from pyspark.sql import functions as F

    from geist_spark.operators.sketch import (
        cms_estimate,
        cms_merge,
        cms_rollup,
    )

    df = spark.range(2_000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 37).alias("item"),
    )
    per_group = cms_rollup(df, ["g"], "item", width=64, depth=4)
    merged = cms_merge(per_group)
    direct = cms_rollup(df, [], "item", width=64, depth=4)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )

    truth = {
        r["item"]: r["n"]
        for r in df.groupBy("item").agg(F.count("*").alias("n")).collect()
    }
    est = {
        r["item"]: r["est_count"]
        for r in cms_estimate(merged, df, "item", width=64, depth=4).collect()
    }
    assert set(est) == set(truth)
    for item, n in truth.items():
        assert est[item] >= n  # CMS may only overcount

    unseen = spark.createDataFrame([(10_001,), (10_002,)], "item long")
    for r in cms_estimate(merged, unseen, "item", width=64, depth=4).collect():
        assert r["est_count"] >= 0


def test_incremental_dedup_matches_full_lsh(spark):
    """Probing a new batch against a stored corpus index finds exactly
    the cross-set subset of the full-corpus LSH pairs."""
    from pyspark.sql import functions as F

    from geist_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_bands,
        minhash_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, base + (f" extra{i}" if i % 3 == 0 else "")) for i in range(12)]
    rows += [(100 + i, f"totally different content number {i} about databases") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    index = minhash_bands(corpus, num_hashes=8, bands=4, k=3)
    inc = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in incremental_dedup_pairs(
            batch, index, num_hashes=8, bands=4, k=3
        ).collect()
    }

    full = {
        tuple(sorted((r["doc_a"], r["doc_b"])))
        for r in minhash_lsh_pairs(docs, num_hashes=8, bands=4, k=3).collect()
    }
    expected = {
        (n, c) for (a, b) in full
        for (n, c) in ((a, b), (b, a))
        if n % 2 == 1 and c % 2 == 0
    }
    assert inc == expected
    assert inc  # near-dup family actually produced cross-set pairs


def test_dormant_customers_anti_join(spark):
    from geist_spark.operators.relational import dormant_customers

    customer = spark.createDataFrame(
        [
            (1, "a", 0, 9000.0, "SEG1"),   # above avg, recent order -> out
            (2, "b", 0, 8000.0, "SEG1"),   # above avg, old order only -> in
            (3, "c", 0, 100.0, "SEG2"),    # below avg -> out
            (4, "d", 0, 7000.0, "SEG2"),   # above avg, no orders -> in
            (5, "e", 0, -50.0, "SEG2"),    # negative, excluded from avg, below -> out
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    import datetime

    orders = spark.createDataFrame(
        [
            (10, 1, datetime.datetime(1998, 6, 1)),
            (11, 2, datetime.datetime(1996, 1, 1)),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    # avg positive balance = (9000+8000+100+7000)/4 = 6025
    got = {
        r["c_mktsegment"]: (r["n_customers"], r["total_acctbal"])
        for r in dormant_customers(customer, orders, since="1998-01-01").collect()
    }
    assert got == {"SEG1": (1, 8000.0), "SEG2": (1, 7000.0)}


def test_session_sequences_order_invariant(spark):
    """Sequence digests are a pure function of the data, not of input
    partition/arrival order."""
    import datetime

    from geist_spark.operators.relational import session_sequences

    rows = [
        (1, i, datetime.datetime(2024, 1, 1, 0, 0, i), f"t{i % 3}", 1.0)
        for i in range(6)
    ] + [(1, 99, datetime.datetime(2024, 1, 1, 5, 0, 0), "late", 1.0)]
    schema = "user_id long, event_id long, ts timestamp, event_type string, value double"
    a = spark.createDataFrame(rows, schema)
    b = spark.createDataFrame(list(reversed(rows)), schema).repartition(7)

    ra = sorted(map(tuple, session_sequences(a).collect()))
    rb = sorted(map(tuple, session_sequences(b).collect()))
    assert ra == rb
    assert len(ra) == 2  # 5h gap splits into two sessions
    assert ra[0][2] == 6 and ra[1][2] == 1  # n_events per session
    assert ra[0][4].startswith("t0:")  # ordered: first event leads


def test_table_digest_order_invariant_and_sensitive(spark):
    from geist_spark.operators.integrity import table_digest

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id long, s string"
    )
    base = table_digest(df, ["id", "s"]).collect()[0]
    shuffled = table_digest(df.repartition(13), ["id", "s"]).collect()[0]
    assert (base["n_rows"], base["digest"]) == (shuffled["n_rows"], shuffled["digest"])

    changed = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "C")], "id long, s string"
    )
    assert table_digest(changed, ["id", "s"]).collect()[0]["digest"] != base["digest"]

    # NULL is distinct from empty string
    empty = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "c")], "id long, s string"
    )
    assert table_digest(empty, ["id", "s"]).collect()[0]["digest"] != base["digest"]


def test_pivot_rollup_gapfill(spark):
    import datetime

    from pyspark.sql import functions as F

    from geist_spark.operators.relational import (
        gap_fill_hourly,
        pivot_table,
        rollup_report,
    )

    li = spark.createDataFrame(
        [("O", "A", 1.0), ("O", "A", 2.0), ("O", "N", 4.0), ("F", "R", 8.0)],
        "l_linestatus string, l_returnflag string, l_quantity double",
    )
    piv = {r["l_linestatus"]: r for r in
           pivot_table(li, ["l_linestatus"], "l_returnflag", ["A", "N", "R"], "l_quantity").collect()}
    assert piv["O"]["A"] == 3.0 and piv["O"]["N"] == 4.0 and piv["O"]["R"] is None
    assert piv["F"]["R"] == 8.0

    roll = rollup_report(li, ["l_linestatus", "l_returnflag"], "l_quantity")
    rows = {(r["l_linestatus"], r["l_returnflag"]): (r["total"], r["grouping_level"])
            for r in roll.collect()}
    assert rows[("O", "A")] == (3.0, 0)
    assert rows[("O", None)] == (7.0, 1)     # subtotal
    assert rows[(None, None)] == (15.0, 3)   # grand total

    ev = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 0, 30), "x"),
         (2, datetime.datetime(2024, 1, 1, 3, 10), "x"),
         (3, datetime.datetime(2024, 1, 1, 1, 0), "y")],
        "event_id long, ts timestamp, event_type string",
    )
    dense = gap_fill_hourly(ev, "event_type")
    assert dense.count() == 8  # 4 hours x 2 types
    zeros = dense.filter("n = 0").count()
    assert zeros == 5  # x misses hours 1,2; y misses 0,2,3


def test_temperature_mix_rates_and_determinism(spark):
    from pyspark.sql import functions as F

    from geist_spark.operators.split import temperature_mix

    rows = [(i, "big") for i in range(900)] + [(i + 1000, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = temperature_mix(df, "source", "doc_id")
    by_src = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # qd = 30+10; target 500 -> rate_small = (10/40*500)/100 = 1.25 -> capped 1.0
    assert by_src["small"] == 100
    # rate_big = (30/40*500)/900 ~ 0.4167 of 900 ~ 375 +- md5 noise
    assert 330 <= by_src["big"] <= 420
    # deterministic under repartition
    again = temperature_mix(df.repartition(17), "source", "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_rolling_user_features_range_window(spark):
    import datetime

    from geist_spark.operators.relational import rolling_user_features

    base = datetime.datetime(2024, 1, 10)
    ev = spark.createDataFrame(
        [
            (1, 1, base - datetime.timedelta(days=11), 100.0),  # outside both later windows
            (2, 1, base - datetime.timedelta(days=3), 10.0),
            (3, 1, base, 1.0),
            (4, 1, base, 2.0),  # tie with event 3 -> peers, both include both
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {r["event_id"]: r for r in rolling_user_features(ev, days=7).collect()}
    assert got[1]["n_window"] == 1 and got[1]["sum_window"] == 100.0
    assert got[2]["n_window"] == 1 and got[2]["sum_window"] == 10.0
    # ties: events 3 and 4 are RANGE peers -> identical features
    for e in (3, 4):
        assert got[e]["n_window"] == 3 and got[e]["sum_window"] == 13.0


def test_verified_pairs_confirms_lsh_candidates(spark):
    from geist_spark.operators.dedup import (
        minhash_lsh_pairs,
        verified_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog by the river bank today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),
            (3, "completely different text about database engines and queries"),
        ],
        "doc_id long, text string",
    )
    cand = {(r["doc_a"], r["doc_b"]) for r in
            minhash_lsh_pairs(docs, num_hashes=8, bands=4, k=3).collect()}
    ver = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           verified_near_dup_pairs(docs, num_hashes=8, bands=4, k=3,
                                   threshold=0.5).collect()}
    assert (1, 2) in ver
    assert 0.5 <= ver[(1, 2)] <= 1.0
    assert set(ver) <= cand  # verification only filters, never invents
    assert all(3 not in p for p in ver)


def test_top_terms_lift_ranks_distinctive_vocab(spark):
    from geist_spark.operators.text import top_terms_per_source

    rows = (
        [(i, "spark catalyst shuffle " * 3, "tech") for i in range(10)]
        + [(100 + i, "sonnet rhyme meter " * 3, "poetry") for i in range(10)]
        + [(200 + i, "the and of " * 5, "tech") for i in range(2)]
        + [(300 + i, "the and of " * 5, "poetry") for i in range(2)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    top = top_terms_per_source(docs, top_n=3, min_tf=5)
    by_src = {}
    for r in top.collect():
        by_src.setdefault(r["source"], []).append((r["rank"], r["term"], r["lift"]))
    # source-exclusive terms outrank shared stopwords
    assert {t for _, t, _ in by_src["tech"]} == {"spark", "catalyst", "shuffle"}
    assert {t for _, t, _ in by_src["poetry"]} == {"sonnet", "rhyme", "meter"}
    for terms in by_src.values():
        for _, _, lift in terms:
            assert lift > 1.0  # distinctive => over-represented


def test_ann_recall_perfect_when_buckets_align(spark):
    from geist_spark.operators.similarity import ann_recall_report

    # all vectors share one direction -> identical LSH sign pattern ->
    # one bucket -> approx sees the full corpus -> recall must be 1.0
    rows = [(i, [float(i + 1), 2.0 * (i + 1), 3.0 * (i + 1)]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    rep = ann_recall_report(emb, query_ids=[0, 1, 2], k=3, num_planes=4)
    got = {r["query_id"]: r for r in rep.collect()}
    assert set(got) == {0, 1, 2}
    for r in got.values():
        assert r["n_matched"] == 3 and r["recall"] == 1.0


def test_key_skew_report_shares(spark):
    from geist_spark.operators.skew import key_skew_report

    df = spark.createDataFrame(
        [("hot",)] * 60 + [("warm",)] * 30 + [("cold",)] * 10, "k string"
    )
    rows = key_skew_report(df, "k", top_n=2).collect()
    assert [(r["key"], r["n"]) for r in rows] == [("hot", 60), ("warm", 30)]
    shares = {r["key"]: (r["share"], r["cum_share"]) for r in rows}
    assert shares["hot"] == (0.6, 0.6)
    assert shares["warm"] == (0.3, 0.9)


def test_source_overlap_matrix_counts_shared_contents(spark):
    from geist_spark.operators.dedup import source_overlap_matrix

    docs = spark.createDataFrame(
        [
            (1, "Shared  Text", "a"),
            (2, "shared text", "b"),   # same after normalization
            (3, "shared text", "b"),   # duplicate within b: counted once
            (4, "only in a", "a"),
            (5, "elsewhere", "c"),
            (6, "shared text", "c"),
        ],
        "doc_id long, text string, source string",
    )
    got = {(r["source_a"], r["source_b"]): r["n_shared"]
           for r in source_overlap_matrix(docs).collect()}
    assert got == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}


def test_percentile_normalize_monotone_and_bounded(spark):
    from geist_spark.operators.sketch import percentile_normalize

    df = spark.createDataFrame(
        [(i, float(i), "g") for i in range(100)]
        + [(200, 50.0, "h")]
        + [(201 + i, 60.0 + float(i % 4) * 10, "h") for i in range(9)],
        "id long, v double, src string",
    )
    out = percentile_normalize(df, "v", "src", lo=0.0, hi=100.0, n_bins=10)
    rows = sorted(
        [(r["src"], r["v"], r["pct"]) for r in out.collect()]
    )
    by_src = {}
    for s, v, p in rows:
        assert 0.0 < p <= 1.0
        by_src.setdefault(s, []).append((v, p))
    for vals in by_src.values():
        pcts = [p for _, p in sorted(vals)]
        assert pcts == sorted(pcts)  # monotone in the value
        assert pcts[-1] == 1.0      # top bin = 100th pct
    # same raw value, different groups -> different percentiles
    g = dict(by_src["g"]); h = dict(by_src["h"])
    assert g[50.0] != h[50.0]


def test_leakage_safe_split_keeps_clusters_together(spark):
    from pyspark.sql import functions as F

    from geist_spark.operators.split import hash_split, leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    # synthetic near-dup graph: chains of 4 docs (0-1-2-3), (4-5-6-7), ...
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 199) if i % 4 != 3],
        "doc_a long, doc_b long",
    )
    assigned = leakage_safe_split(docs, pairs)
    # every cluster of 4 must land in exactly one split
    spans = (
        assigned.withColumn("cluster", (F.col("doc_id") / 4).cast("long"))
        .groupBy("cluster")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter("n_splits > 1")
        .count()
    )
    assert spans == 0
    # naive per-doc split DOES leak on the same graph (sanity that the
    # property tested is non-trivial)
    naive = hash_split(docs, "doc_id")
    naive_spans = (
        naive.withColumn("cluster", (F.col("doc_id") / 4).cast("long"))
        .groupBy("cluster")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter("n_splits > 1")
        .count()
    )
    assert naive_spans > 0


def test_token_budget_quota(spark):
    from pyspark.sql import functions as F

    from geist_spark.operators.prep import token_budget_quota

    docs = spark.createDataFrame(
        [(i, "tok " * 10, "a") for i in range(20)]     # 10 tokens each
        + [(100, "word " * 1000, "b")]                  # oversized vs budget
        + [(101, "tiny text", "b")],                    # 2 tokens
        "doc_id long, text string, source string",
    )
    kept = token_budget_quota(docs, budget_tokens=55)
    by_src = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src.get("a") == 5          # 5 x 10 tokens <= 55, 6th overflows
    assert by_src.get("b") == 1          # oversized doc excluded, tiny kept
    ids = {r["doc_id"] for r in kept.collect()}
    assert 100 not in ids and 101 in ids
    again = {r["doc_id"] for r in
             token_budget_quota(docs.repartition(7), budget_tokens=55).collect()}
    assert again == ids  # deterministic under repartition


def test_event_transition_matrix(spark):
    import datetime

    from geist_spark.operators.relational import event_transition_matrix

    t0 = datetime.datetime(2024, 1, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    ev = spark.createDataFrame(
        [
            (1, 1, at(0), "a"), (2, 1, at(1), "b"), (3, 1, at(2), "a"),
            (4, 2, at(0), "a"), (5, 2, at(1), "b"), (6, 2, at(2), "c"),
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {(r["from_type"], r["to_type"]): (r["n"], r["p"])
           for r in event_transition_matrix(ev).collect()}
    # a->b twice (both users); b->a once, b->c once
    assert got[("a", "b")] == (2, 1.0)
    assert got[("b", "a")] == (1, 0.5)
    assert got[("b", "c")] == (1, 0.5)
    # no cross-user transition (user1 'a' -> user2 'a' never counted)
    assert ("c", "a") not in got


def test_bloom_semi_join_exact_vs_plain(spark):
    from geist_spark.operators.prep import bloom_semi_join

    df = spark.createDataFrame([(i, f"p{i}") for i in range(500)], "k long, v string")
    keys = spark.createDataFrame([(i * 3,) for i in range(100)], "kk long")

    plain_semi = {r["k"] for r in
                  df.join(keys, df.k == keys.kk, "left_semi").collect()}
    plain_anti = {r["k"] for r in
                  df.join(keys, df.k == keys.kk, "left_anti").collect()}
    # small m_bits forces false positives -> proves the confirm join works
    for m in (1 << 8, 1 << 16):
        semi = {r["k"] for r in
                bloom_semi_join(df, keys, "k", "kk", "semi", m_bits=m).collect()}
        anti = {r["k"] for r in
                bloom_semi_join(df, keys, "k", "kk", "anti", m_bits=m).collect()}
        assert semi == plain_semi
        assert anti == plain_anti
        assert semi | anti == {r["k"] for r in df.collect()}

    import pytest

    with pytest.raises(ValueError):
        bloom_semi_join(df, keys, "k", "kk", "outer")


def test_cms_join_size_estimate_upper_bound(spark):
    from pyspark.sql import functions as F

    from geist_spark.operators.sketch import (
        cms_join_size_estimate,
        cms_merge,
        cms_rollup,
    )

    a = spark.range(1000).select((F.col("id") % 50).alias("k"))
    b = spark.range(400).select((F.col("id") % 80).alias("k"))
    exact = a.join(b, "k").count()
    for width in (32, 512):
        sa = cms_merge(cms_rollup(a, [], "k", width=width, depth=4))
        sb = cms_merge(cms_rollup(b, [], "k", width=width, depth=4))
        est = cms_join_size_estimate(sa, sb).collect()[0]["join_size_est"]
        assert est >= exact  # inner product only adds collision terms
    # wide sketch: no collisions among 80 keys in 512 cells is likely
    # but not guaranteed; bound the overestimate instead
    assert est <= exact * 2


def test_cdc_apply_latest_wins_and_tombstones(spark):
    import datetime

    from pyspark.sql import functions as F

    from geist_spark.operators.relational import cdc_apply

    t0 = datetime.datetime(2024, 1, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    changes = spark.createDataFrame(
        [
            (1, 1, at(0), "create"), (2, 1, at(5), "update"),   # u1 -> update
            (3, 2, at(0), "create"), (4, 2, at(9), "delete"),   # u2 -> gone
            (5, 3, at(7), "update"), (6, 3, at(7), "create"),   # tie: higher id wins
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    state = {r["user_id"]: (r["event_id"], r["event_type"]) for r in cdc_apply(
        changes, ["user_id"], "ts", "event_id",
        delete_when=F.col("event_type") == "delete",
    ).collect()}
    assert state == {1: (2, "update"), 3: (6, "create")}
    # idempotent: applying state ∪ changes yields the same state
    again = {r["user_id"]: (r["event_id"], r["event_type"]) for r in cdc_apply(
        changes.unionByName(changes), ["user_id"], "ts", "event_id",
        delete_when=F.col("event_type") == "delete",
    ).collect()}
    assert again == state


def test_scd2_history_intervals(spark):
    import datetime

    from geist_spark.operators.relational import scd2_history

    t0 = datetime.datetime(2024, 1, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    changes = spark.createDataFrame(
        [(1, 1, at(0)), (2, 1, at(10)), (3, 2, at(5))],
        "event_id long, user_id long, ts timestamp",
    )
    hist = {r["event_id"]: r for r in
            scd2_history(changes, ["user_id"], "ts", "event_id").collect()}
    assert hist[1]["valid_from"] == at(0) and hist[1]["valid_to"] == at(10)
    assert not hist[1]["is_current"]
    assert hist[2]["valid_to"] is None and hist[2]["is_current"]
    assert hist[3]["valid_to"] is None and hist[3]["is_current"]
    # intervals tile: each key's current rows == 1
    currents = [r for r in hist.values() if r["is_current"]]
    assert {r["user_id"] for r in currents} == {1, 2}


def test_funnel_requires_order(spark):
    import datetime

    from geist_spark.operators.relational import funnel_conversion

    t0 = datetime.datetime(2024, 1, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    ev = spark.createDataFrame(
        [
            # u1 completes in order
            (1, 1, at(0), "signup"), (2, 1, at(10), "view"), (3, 1, at(20), "purchase"),
            # u2: purchase BEFORE view -> reaches step1 only
            (4, 2, at(0), "signup"), (5, 2, at(5), "purchase"), (6, 2, at(10), "view"),
            # u3: never signs up -> reaches nothing
            (7, 3, at(0), "view"), (8, 3, at(5), "purchase"),
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    row = funnel_conversion(ev, ["signup", "view", "purchase"]).collect()[0]
    assert (row["n_step0"], row["n_step1"], row["n_step2"]) == (2, 2, 1)


def test_cohort_retention_matrix(spark):
    import datetime

    from geist_spark.operators.relational import cohort_retention

    def day(d):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)

    ev = spark.createDataFrame(
        [
            (1, 1, day(0)), (2, 1, day(8)),    # cohort c, back in c+1
            (3, 2, day(1)), (4, 2, day(2)),    # cohort c, active only in c
            (5, 3, day(9)),                    # cohort c+1
        ],
        "event_id long, user_id long, ts timestamp",
    )
    got = {(r["cohort"], r["periods_since"]): r["n_users"]
           for r in cohort_retention(ev, period_days=7).collect()}
    cohorts = sorted({c for c, _ in got})
    c0, c1 = cohorts[0], cohorts[-1]
    assert got[(c0, 0)] == 2      # u1, u2 in their first week
    assert got[(c0, 1)] == 1      # u1 returns
    assert got[(c1, 0)] == 1      # u3's own cohort


def test_interval_join_overlap_semantics(spark):
    import datetime

    from geist_spark.operators.relational import interval_join

    t0 = datetime.datetime(2024, 1, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    left = spark.createDataFrame(
        [
            ("a", at(0), at(100)),      # overlaps w1 and w2
            ("b", at(250), at(260)),    # inside w2? w2 = [200, 300]
            ("c", at(500), at(600)),    # touches w3 at exactly 500
            ("d", at(10_000), at(10_001)),  # overlaps nothing
        ],
        "lid string, l_start timestamp, l_end timestamp",
    )
    right = spark.createDataFrame(
        [("w1", at(50), at(150)), ("w2", at(200), at(300)),
         ("w3", at(400), at(500))],
        "rid string, r_start timestamp, r_end timestamp",
    )
    got = {(r["lid"], r["rid"]) for r in interval_join(
        left, right, "lid", "rid", bucket_seconds=60
    ).collect()}
    assert got == {("a", "w1"), ("b", "w2"), ("c", "w3")}
    # multi-bucket spans dedupe to one pair (a spans buckets 0 and 1,
    # w1 spans the same two buckets)
    assert len(got) == 3


def test_threshold_sweep_one_pass_grid(spark):
    from geist_spark.operators.prep import threshold_sweep

    df = spark.createDataFrame(
        [("a", 10.0), ("a", 100.0), ("a", 1000.0), ("b", 50.0)],
        "src string, m double",
    )
    got = {(r["src"], r["threshold"]): (r["n_rows"], r["metric_mass"])
           for r in threshold_sweep(df, "m", "src", [0.0, 50.0, 500.0]).collect()}
    assert got[("a", 0.0)] == (3, 1110.0)
    assert got[("a", 50.0)] == (2, 1100.0)
    assert got[("a", 500.0)] == (1, 1000.0)
    assert got[("b", 50.0)] == (1, 50.0)
    assert ("b", 500.0) not in got  # nothing survives -> no row


def test_substring_dup_spans_maximal_runs(spark):
    """Two docs sharing one long verbatim region -> exactly ONE maximal
    span of the region's full length (not one hit per gram position);
    disjoint regions -> separate spans; no shared >=k substring -> no
    pair."""
    from geist_spark.operators.dedup import substring_dup_spans

    # aperiodic regions (periodic text matches on extra diagonals —
    # real behavior, but noisy for a golden test): md5-derived hex
    import hashlib

    def rnd(seed: str, n: int) -> str:
        out = ""
        i = 0
        while len(out) < n:
            out += hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
            i += 1
        return out[:n]

    shared = rnd("shared", 60)
    docs = spark.createDataFrame(
        [
            (1, "prefix-one " + shared + " tail-one"),
            (2, "different lead " + shared + " other tail"),
            (3, "x" * 70),
            (4, "no overlap here at all with anybody, purely distinct text"),
        ],
        "doc_id long, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r.asDict()
            for r in substring_dup_spans(docs, min_len=40).collect()}
    assert set(rows) == {(1, 2)}
    got = rows[(1, 2)]
    # one maximal run: the 60-char region PLUS both flanking spaces
    assert got["n_spans"] == 1
    assert got["max_span"] == 62
    assert got["total_shared"] == 62

    # two disjoint shared regions -> two spans
    r1 = rnd("r-one", 45)
    r2 = rnd("r-two", 45)
    docs2 = spark.createDataFrame(
        [(1, r1 + "*middle gap text*" + r2), (2, r2 + "#|#" + r1)],
        "doc_id long, text string",
    )
    got2 = substring_dup_spans(docs2, min_len=40).collect()[0]
    assert got2["n_spans"] == 2
    assert got2["max_span"] == 45
    assert got2["total_shared"] == 90

    # stride sampling still finds spans >= min_len + stride - 1
    got3 = substring_dup_spans(docs, min_len=40, stride=5).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got3] == [(1, 2)]


def test_shard_export_deterministic_and_prunable(spark, tmp_path):
    """Shard assignment depends only on the key value (stable across
    re-runs and row orders); write_sharded produces one directory per
    shard whose contents match the manifest exactly."""
    from pyspark.sql import functions as F

    from geist_spark.operators.split import (
        assign_shards,
        shard_manifest,
        write_sharded,
    )

    df = spark.createDataFrame(
        [(i, f"text-{i}", f"s{i % 3}") for i in range(100)],
        "doc_id long, text string, source string",
    )
    a1 = {r["doc_id"]: r["shard"]
          for r in assign_shards(df, "doc_id", 8).collect()}
    # order/partitioning invariance
    a2 = {r["doc_id"]: r["shard"]
          for r in assign_shards(
              df.orderBy(F.desc("doc_id")).repartition(7), "doc_id", 8
          ).collect()}
    assert a1 == a2
    assert set(a1.values()) == set(range(8))

    out = str(tmp_path / "export")
    write_sharded(df, out, "doc_id", 8)
    man = {r["shard"]: r for r in
           shard_manifest(df, "doc_id", 8).collect()}
    back = spark.read.parquet(out)
    got = {r["shard"]: r["cnt"] for r in
           back.groupBy("shard").agg(F.count("*").alias("cnt")).collect()}
    assert got == {s: m["n_rows"] for s, m in man.items()}
    # shard-directory pruning: a shard filter reads one directory
    one = back.filter(F.col("shard") == 3)
    assert one.count() == man[3]["n_rows"]
    # re-exporting identical data yields the identical manifest
    # (the diff an incremental exporter relies on)
    man2 = {r["shard"]: r["content_digest"] for r in
            shard_manifest(df.repartition(13), "doc_id", 8).collect()}
    assert man2 == {s: m["content_digest"] for s, m in man.items()}


def test_pipeline_spec_validation_errors(spark):
    import pytest as _pytest

    from geist_spark.compiler.pipeline import compile_pipeline
    from geist_spark.spec.model import SpecError

    with _pytest.raises(SpecError, match="at least one step"):
        compile_pipeline({"steps": []})
    with _pytest.raises(SpecError, match="unknown op"):
        compile_pipeline({"steps": [{"op": "frobnicate"}]})
    with _pytest.raises(SpecError, match="missing 'op'"):
        compile_pipeline({"steps": [{"minTokens": 3}]})
    with _pytest.raises(SpecError, match="maxDocsPerSource"):
        compile_pipeline({"steps": [{"op": "sourceQuota"}]})
    with _pytest.raises(SpecError, match="minTokens"):
        compile_pipeline(
            {"steps": [{"op": "qualityFilter", "minTokens": 9, "maxTokens": 3}]}
        )


def test_pipeline_composes_lazily_and_preserves_columns(spark):
    from geist_spark.compiler.pipeline import compile_pipeline

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "s1"),
            (2, "alpha beta gamma delta", "s1"),  # exact dup of 1
            (3, "too short", "s1"),
            (4, "one two three four five six", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    pipe = compile_pipeline(
        {
            "steps": [
                {"op": "exactDedup"},
                {"op": "qualityFilter", "minTokens": 4},
                {"op": "sourceQuota", "maxDocsPerSource": 5},
            ]
        }
    )
    out = pipe(df)
    assert set(out.columns) == {"doc_id", "text", "source"}
    rows = {r["doc_id"] for r in out.collect()}
    assert rows == {1, 4}  # dup 2 collapsed to 1; 3 fails min tokens


def test_describe_pipeline_returns_validated_plan(spark):
    import pytest as _pytest

    from geist_spark.compiler.pipeline import describe_pipeline
    from geist_spark.spec.model import SpecError

    plan = describe_pipeline(
        {
            "steps": [
                {"op": "fixText"},
                {"op": "qualityFilter", "minTokens": 5},
            ]
        }
    )
    assert plan == [
        {"op": "fixText"},
        {"op": "qualityFilter", "minTokens": 5},
    ]
    with _pytest.raises(SpecError):
        describe_pipeline({"steps": [{"op": "nope"}]})


# ---------------------------------------------------------- mixture planning


def test_mixture_plan_allocation_and_cap(spark):
    from geist_spark.operators.split import mixture_plan

    cs = spark.createDataFrame(
        [("web", 1000), ("books", 100), ("code", 400)],
        "source string, n_tokens long",
    )
    w = spark.createDataFrame(
        [("web", 2), ("books", 1), ("code", 1)],
        "source string, weight_parts long",
    )
    out = {
        r.source: r
        for r in mixture_plan(cs, w, total_tokens=1200, max_epochs=3).collect()
    }
    # targets: floor(1200 * parts / 4) -> web 600, books 300, code 300
    assert out["web"].target_tokens == 600
    assert out["books"].target_tokens == 300
    # books caps at 3 epochs of 100 available
    assert out["books"].planned_tokens == 300
    assert out["books"].epochs == 3.0
    # web/code fit in one epoch
    assert out["web"].planned_tokens == 600 and out["web"].epochs == 0.6
    assert out["code"].planned_tokens == 300
    total_planned = sum(r.planned_tokens for r in out.values())
    for r in out.values():
        assert r.achieved_weight == r.planned_tokens / total_planned


def test_mixture_plan_cap_binds_hard(spark):
    from geist_spark.operators.split import mixture_plan

    cs = spark.createDataFrame(
        [("tiny", 10), ("big", 10000)], "source string, n_tokens long"
    )
    w = spark.createDataFrame(
        [("tiny", 9), ("big", 1)], "source string, weight_parts long"
    )
    out = {
        r.source: r
        for r in mixture_plan(cs, w, total_tokens=10000, max_epochs=2).collect()
    }
    # tiny wants 9000 but caps at 20; the plan surfaces the shortfall
    assert out["tiny"].target_tokens == 9000
    assert out["tiny"].planned_tokens == 20
    assert out["tiny"].epochs == 2.0
    assert out["big"].planned_tokens == 1000


def test_decompress_text_roundtrip_and_errors(spark):
    """decompress_text inflates gzip (multi-member) and zlib, bounds
    decompression bombs at max_bytes, types unknown codecs as
    capability limits, and replaces invalid utf-8."""
    import gzip
    import zlib

    import pytest

    import pyarrow as pa

    from geist_spark.operators.lzcodecs import snappy_stream_compress
    from geist_spark.operators.prep import decompress_text

    two_member = gzip.compress(b"hello ") + gzip.compress(b"world")
    rows = [
        (1, gzip.compress("héllo".encode())),
        (2, zlib.compress(b"zlib text")),
        (3, two_member),
        (4, gzip.compress(b"\xff\xfe invalid utf8")),
        (5, None),
        (6, pa.compress("zstd tèxt".encode(), codec="zstd", asbytes=True)),
        (7, pa.compress(b"lz4 payload", codec="lz4", asbytes=True)),
        (8, snappy_stream_compress(b"snappy payload")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decompress_text(df).collect()}
    assert out[1]["text"] == "héllo" and out[1]["byte_len"] == 6
    assert out[2]["text"] == "zlib text"
    assert out[3]["text"] == "hello world"  # members concatenate
    assert "�" in out[4]["text"]
    assert out[5]["text"] is None
    assert out[6]["text"] == "zstd tèxt" and out[6]["byte_len"] == 10
    assert out[7]["text"] == "lz4 payload"
    assert out[8]["text"] == "snappy payload"

    # unknown magic (brotli et al.): the capability limit tier
    unknown = b"\x81\x01\x80brotli-ish"
    mixed = spark.createDataFrame(
        [(1, gzip.compress(b"ok")), (2, unknown)],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception, match="doc_id=2"):
        decompress_text(mixed).collect()
    nulled = {r["doc_id"]: r for r in
              decompress_text(mixed, on_unsupported="null").collect()}
    assert nulled[1]["text"] == "ok" and nulled[2]["text"] is None

    # malformed always raises: truncation, a 10 MB gzip bomb vs 1 KB
    # cap, and garbage behind the zstd magic (now a real decode path)
    for payload, msg in [
        (gzip.compress(b"abcdef")[:-4], "truncated compressed"),
        (gzip.compress(b"\x00" * 10_000_000), "max_bytes=1024"),
        (b"\x28\xb5\x2f\xfd fake-zstd", "malformed zstd"),
    ]:
        d = spark.createDataFrame(
            [(1, payload)], "doc_id long, payload binary"
        )
        with pytest.raises(Exception, match=msg):
            decompress_text(d, max_bytes=1024,
                            on_unsupported="null").collect()


def test_decompress_text_bz2_and_xz(spark):
    """bzip2 and xz payloads decode through the same surface:
    multi-stream concatenation (pbzip2 layout, xz stream padding),
    the max_bytes bomb bound, and typed malformed errors."""
    import bz2
    import lzma

    import pytest

    from geist_spark.operators.prep import decompress_text

    two_bz = bz2.compress(b"hello ") + bz2.compress(b"world")
    # multi-stream xz with 4-byte NUL stream padding between streams
    two_xz = lzma.compress(b"foo ") + b"\x00" * 4 + lzma.compress(b"bar")
    rows = [
        (1, bz2.compress("héllo bz2".encode())),
        (2, lzma.compress(b"xz text")),
        (3, two_bz),
        (4, two_xz),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decompress_text(df).collect()}
    assert out[1]["text"] == "héllo bz2" and out[1]["byte_len"] == 10
    assert out[2]["text"] == "xz text"
    assert out[3]["text"] == "hello world"
    assert out[4]["text"] == "foo bar"

    for payload, msg in [
        (bz2.compress(b"abcdef")[:-4], "truncated compressed"),
        (lzma.compress(b"abcdef")[:-4], "truncated compressed"),
        (b"BZh9" + b"\xde\xad\xbe\xef" * 4, "malformed bz2"),
        (b"\xfd7zXZ\x00" + b"\xde\xad\xbe\xef" * 4, "malformed xz"),
        (bz2.compress(b"\x00" * 10_000_000), "max_bytes=1024"),
        (lzma.compress(b"\x00" * 10_000_000), "max_bytes=1024"),
    ]:
        d = spark.createDataFrame(
            [(1, payload)], "doc_id long, payload binary"
        )
        with pytest.raises(Exception, match=msg):
            decompress_text(d, max_bytes=1024,
                            on_unsupported="null").collect()


def test_decompress_text_zlib_sniff_fcheck(spark):
    """A plain-text payload starting with 'x' (0x78) must land in the
    CAPABILITY tier (it is not zlib — the RFC 1950 FCHECK fails), not
    crash the stage as malformed."""
    import zlib

    from geist_spark.operators.prep import decompress_text

    df = spark.createDataFrame(
        [(1, b"xml version etc"), (2, zlib.compress(b"real"))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in
           decompress_text(df, on_unsupported="null").collect()}
    assert out[1]["text"] is None and out[2]["text"] == "real"


def test_archive_list_and_extract(spark):
    """ZIP central-directory and USTAR walks against stdlib-built
    archives (deflate + stored members, directories skipped, gzip
    wrapper); bounded extraction round-trips member bytes; ZIP64/
    encrypted/unknown magic are typed capability limits; truncation
    and checksum damage raise."""
    import gzip
    import io
    import tarfile
    import zipfile

    import pytest

    from geist_spark.operators.prep import (
        archive_extract_text,
        archive_list,
    )

    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as z:
        z.writestr("a.txt", "hello zip " * 20,
                   compress_type=zipfile.ZIP_DEFLATED)
        z.writestr("dir/", "")
        z.writestr("b.bin", b"\x00\x01",
                   compress_type=zipfile.ZIP_STORED)
    tbuf = io.BytesIO()
    with tarfile.open(fileobj=tbuf, mode="w",
                      format=tarfile.USTAR_FORMAT) as t:
        for name, data in [("x.txt", b"tar text"), ("d/y.md", b"# md")]:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            t.addfile(ti, io.BytesIO(data))
    files = spark.createDataFrame(
        [(1, zbuf.getvalue()), (2, tbuf.getvalue()),
         (3, gzip.compress(tbuf.getvalue())), (4, b"not an archive"),
         (5, None)],
        "file_id long, payload binary",
    )
    rows = {(r["file_id"], r["name"]): r
            for r in archive_list(files, on_unsupported="null").collect()}
    assert rows[(1, "a.txt")]["method"] == "deflate"
    assert rows[(1, "a.txt")]["size"] == 200
    assert rows[(1, "b.bin")]["method"] == "stored"
    assert (1, "dir/") not in rows
    assert rows[(2, "x.txt")]["method"] == "tar"
    assert rows[(3, "d/y.md")]["size"] == 4
    assert not any(fid in (4, 5) for fid, _ in rows)

    txt = {(r["file_id"], r["name"]): r["text"]
           for r in archive_extract_text(
               files, on_unsupported="null").collect()}
    assert txt[(1, "a.txt")] == "hello zip " * 20
    assert txt[(2, "x.txt")] == "tar text"
    assert txt[(3, "d/y.md")] == "# md"
    assert (1, "b.bin") not in txt  # suffix filter

    with pytest.raises(Exception, match="not a ZIP"):
        archive_list(files).collect()
    trunc = spark.createDataFrame(
        [(1, zbuf.getvalue()[:-10])], "file_id long, payload binary"
    )
    with pytest.raises(Exception, match="ZIP"):
        archive_list(trunc, on_unsupported="null").collect()
    # bomb bound: member larger than max_bytes
    with pytest.raises(Exception, match="max_bytes"):
        archive_extract_text(
            spark.createDataFrame(
                [(1, zbuf.getvalue())], "file_id long, payload binary"
            ),
            max_bytes=10,
        ).collect()


def test_pipeline_lang_filter(spark):
    """langFilter keeps only docs whose pure-codegen language argmax
    lands in the requested set — agrees with language_id's
    predicted_lang column by construction; spec validation rejects
    unknown codes and empty lists; the plan stays join-free."""
    import pytest

    from geist_spark.compiler.pipeline import compile_pipeline
    from geist_spark.operators.text import language_id
    from geist_spark.spec.model import SpecError

    rows = [
        (1, "the cat sat on the mat and it is here for the win", "x", "s"),
        (2, "der hund ist von dem haus und mit den anderen da", "x", "s"),
        (3, "le chat est pour la maison et les autres que nous", "x", "s"),
        (4, "zzz qqq www", "x", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    pipe = compile_pipeline(
        {"steps": [{"op": "langFilter", "languages": ["en", "de"]}]}
    )
    out = pipe(docs)
    kept = sorted(r.doc_id for r in out.collect())
    pred = {r["doc_id"]: r["predicted_lang"]
            for r in language_id(docs).collect()}
    want = sorted(d for d, p in pred.items() if p in ("en", "de"))
    assert kept == want and 1 in kept and 2 in kept and 4 not in kept
    assert set(out.columns) == {"doc_id", "text", "lang", "source"}
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p and "Exchange" not in p

    # 'unknown' is selectable (keep undetectable docs)
    pipe_u = compile_pipeline(
        {"steps": [{"op": "langFilter", "languages": ["unknown"]}]}
    )
    assert [r.doc_id for r in pipe_u(docs).collect()] == [4]

    with pytest.raises(SpecError, match="unknown language codes"):
        compile_pipeline(
            {"steps": [{"op": "langFilter", "languages": ["klingon"]}]}
        )
    with pytest.raises(SpecError, match="non-empty string list"):
        compile_pipeline({"steps": [{"op": "langFilter", "languages": []}]})
