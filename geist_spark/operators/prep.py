"""Training-corpus preparation operators: decontamination, sequence
packing, PII redaction, per-source quota capping.

All pure JVM-side column/window expressions (no Python UDFs) with
exact DuckDB oracles — these are the post-dedup steps an LLM data
pipeline runs before tokenization.

No reference equivalent (zpiroux/geist is a stream-ETL runtime with no
corpus operators, README.md:21); built for the driver's LLM-pipeline
extension mandate alongside operators/dedup.py and operators/text.py.

Scale design notes are on each operator; the common theme is one
shuffle maximum, broadcast for the small side, and deterministic
md5-based ordering so results are reproducible at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from geist_spark.operators.dedup import shingles, tokens
from geist_spark.operators.records import payload_stage

# simple, RE2-safe patterns that parse identically in Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9\-\s]{7,14}[0-9]"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def decontaminate(
    documents: DataFrame,
    eval_docs: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    k-token shingle with an evaluation/benchmark set (the GPT-3
    appendix-C n-gram-overlap method, done as a join instead of a
    bloom filter so the result is exact).

    Plan shape for 100 TB: the eval side is benchmark-sized (thousands
    of docs), so its distinct shingle set is BROADCAST and the corpus
    side streams through map-side — no shuffle of the corpus. Output
    is one row per doc with the contaminated-shingle count (0 = clean),
    so the caller can either drop or audit.
    """
    corpus_sh = shingles(documents, k=k)
    eval_sh = F.broadcast(
        shingles(eval_docs, k=k).select(
            F.col("shingle").alias("__eval_shingle")
        ).distinct()
    )
    hits = (
        corpus_sh.join(
            eval_sh, corpus_sh.shingle == eval_sh.__eval_shingle, "inner"
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        documents.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_contaminated_shingles"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def pack_sequences(
    documents: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
) -> DataFrame:
    """Streaming sequence packing: assign docs (in deterministic
    (group, doc_id) order) to consecutive token-budget bins —
    bin_id = floor(exclusive-running-token-sum / budget). The last doc
    of a bin may straddle the boundary (bins overflow by < 1 doc);
    that is the standard streaming approximation of bin packing — the
    exact greedy is inherently sequential and O(n) per group, while
    this is ONE shuffle on the group + a partition-local window, and
    its output is a pure function of the data (engine/parallelism
    independent, DuckDB-replayable).

    Returns per-bin rollups: (group, bin_id, n_docs, total_tokens).
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = F.size(tokens(F.col("text")))
    per_doc = documents.select(
        group_col, "doc_id", n_tok.alias("n_tokens")
    ).withColumn(
        "bin_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            / F.lit(budget_tokens)
        ),
    )
    return per_doc.groupBy(group_col, "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def redact_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub: redact emails, phone-like number runs, and IPv4
    addresses with typed placeholders; reports per-doc match counts so
    a pipeline can route high-PII docs to review. Map-only codegen —
    the cheapest possible pass at 100 TB — using patterns restricted
    to the common subset of Java regex and RE2 so the DuckDB oracle
    replays them byte-identically."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    redacted = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(redacted, F.lit(IPV4_RE), F.lit(0)))
    redacted = F.regexp_replace(redacted, IPV4_RE, "<IP>")
    n_phones = F.size(F.regexp_extract_all(redacted, F.lit(PHONE_RE), F.lit(0)))
    redacted = F.regexp_replace(redacted, PHONE_RE, "<PHONE>")
    return documents.select(
        "doc_id",
        redacted.alias("redacted_text"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
    )


def source_quota(
    documents: DataFrame,
    cap_per_source: int,
    group_col: str = "source",
    salt: str = "",
) -> DataFrame:
    """Per-source quota capping: keep at most `cap_per_source` docs per
    group, chosen by deterministic md5(doc_id || salt) order (an
    unbiased, reproducible draw — different salts give independent
    draws). The absolute-count twin of stratified_sample's fractional
    downsampling: one shuffle on the group, partition-local window."""
    rank_key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt)))
    w = Window.partitionBy(group_col).orderBy(rank_key.asc(), F.col("doc_id").asc())
    return (
        documents.withColumn("__qr", F.row_number().over(w))
        .filter(F.col("__qr") <= cap_per_source)
        .drop("__qr")
    )


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap — the
    RAG / context-window prep step that turns a corpus into training or
    retrieval units. Chunk starts advance by `stride` tokens
    (stride < chunk_tokens ⇒ overlap of chunk_tokens - stride).

    Pure per-row array work (sequence → slice → posexplode): zero
    shuffle, output size is n_tokens/stride rows per doc. At 100 TB
    the explode multiplies rows ~chunk/stride×, but each output row is
    narrow and the stage stays map-only — downstream writers see
    partition sizes grow by the same factor, so pair with
    `spark.sql.files.maxPartitionBytes` sized for the post-explode
    width, not the input width.
    """
    if stride < 1 or chunk_tokens < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    from geist_spark.operators.bucketing import fan_out

    toked = fan_out(documents).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    t = F.col("toks")
    starts = F.sequence(F.lit(1), F.greatest(F.size(t), F.lit(1)), F.lit(stride))
    chunks = F.transform(starts, lambda s: F.slice(t, s, chunk_tokens))
    ex = toked.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    return ex.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(" ", F.col("chunk")).alias("chunk_text"),
        F.size("chunk").alias("n_tokens"),
    )


def _bloom_pos(key: F.Column, seed: int, m_bits: int) -> F.Column:
    """Bit position for probe `seed`: 32-bit md5-prefix hash of the
    salted key, mod m_bits. Non-negative in both engines (the DuckDB
    oracle replays `('0x' || substr(md5(key || '|seed'), 1, 8))::BIGINT
    % m_bits` exactly)."""
    salted = F.concat(key, F.lit(f"|{seed}"))
    h = F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long")
    return h % F.lit(m_bits)


def bloom_build(
    keys: DataFrame, key_col: str, m_bits: int = 1 << 20, num_hashes: int = 4
) -> DataFrame:
    """Build a bloom filter over a key column as ONE row holding a
    dense array<long> of m_bits/64 words (`words`).

    The whole filter is (m_bits/8) bytes — 128 KiB at the 2^20
    default — INDEPENDENT of how many keys went in. That is the point
    at scale: broadcasting the raw key set is O(total key bytes)
    (gigabytes for a large eval/benchmark suite), while the bloom
    image stays constant-size, so the corpus-side membership probe is
    always a cheap map-side expression.

    Build cost: one explode (num_hashes per key), one distinct on bit
    positions, one 1-row aggregation packing bits into words. All
    md5-deterministic: the same keys produce the same image on any
    engine or parallelism.
    """
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    n_words = m_bits // 64
    one = F.lit(1).cast("long")
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    _bloom_pos(F.col(key_col), i, m_bits)
                    for i in range(num_hashes)
                ]
            )
        ).alias("pos")
    ).distinct()
    sparse = pos.groupBy(
        F.floor(F.col("pos") / 64).cast("long").alias("widx")
    ).agg(
        # bit_or of single-bit words; shiftleft via call_function so the
        # shift amount can be a column (the F.shiftleft wrapper only
        # takes a literal int)
        F.bit_or(
            F.call_function(
                "shiftleft", one, (F.col("pos") % 64).cast("int")
            )
        ).alias("word")
    )
    # dense assembly: scatter sparse words onto a zero skeleton with a
    # (broadcast) left join, then pack in widx order. An element_at-on-
    # map probe per index would be an O(n_words * n_entries) linear
    # scan (measured 11 s at 16k words); this is O(n_words log n_words).
    skeleton = keys.sparkSession.range(n_words).select(
        F.col("id").alias("widx")
    )
    dense_rows = skeleton.join(sparse, "widx", "left").select(
        "widx", F.coalesce("word", F.lit(0).cast("long")).alias("word")
    )
    return dense_rows.agg(
        F.array_sort(F.collect_list(F.struct("widx", "word"))).alias("__e")
    ).select(F.transform(F.col("__e"), lambda s: s["word"]).alias("words"))


def bloom_might_contain(
    words: F.Column, key: F.Column, m_bits: int, num_hashes: int
) -> F.Column:
    """Membership probe against a `bloom_build` image: true iff every
    probe bit is set. Pure codegen column expression — no shuffle, no
    Python; false positives possible (rate ~ (keys*num_hashes/m_bits)
    ^num_hashes), false negatives impossible."""
    one = F.lit(1).cast("long")
    cond = F.lit(True)
    for i in range(num_hashes):
        pos = _bloom_pos(key, i, m_bits)
        word = F.element_at(words, (F.floor(pos / 64) + 1).cast("int"))
        bit = F.call_function("shiftleft", one, (pos % 64).cast("int"))
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond


def bloom_decontaminate(
    documents: DataFrame,
    eval_docs: DataFrame,
    k: int = 5,
    m_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> DataFrame:
    """Benchmark decontamination at corpus scale: bloom prefilter +
    exact confirm.

    `decontaminate` broadcasts the full eval shingle set — right for
    benchmark-sized eval data, wrong when the contamination blocklist
    is itself huge (all public test sets + licensed text: tens of GB).
    This variant probes a constant-size (m_bits/8 bytes) bloom image
    map-side, so only the tiny candidate fraction of corpus shingles
    reaches the exact-confirm join; AQE picks the confirm strategy on
    actual candidate size. False positives cost only wasted confirm
    work, never wrong output; the exact join removes them.

    Returns one row per doc: bloom candidate count (FPs included —
    oracle-checked, the bloom arithmetic is engine-exact), exact
    contaminated count, and the contaminated flag (identical to
    `decontaminate`'s).
    """
    corpus_sh = shingles(documents, k=k)
    eval_sh = shingles(eval_docs, k=k).select("shingle").distinct()
    image = bloom_build(eval_sh, "shingle", m_bits, num_hashes)
    cand = (
        corpus_sh.join(F.broadcast(image))
        .filter(
            bloom_might_contain(
                F.col("words"), F.col("shingle"), m_bits, num_hashes
            )
        )
        .drop("words")
    )
    confirmed = cand.join(
        eval_sh.select(F.col("shingle").alias("__es")),
        cand.shingle == F.col("__es"),
        "left",
    )
    per_doc = confirmed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.sum(F.col("__es").isNotNull().cast("long")).alias("n_hit"),
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_cand", F.lit(0)).alias("n_candidate_shingles"),
            F.coalesce("n_hit", F.lit(0)).alias("n_contaminated_shingles"),
            (F.coalesce("n_hit", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def token_budget_quota(
    documents: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source corpus caps measured in TOKENS, not documents — the
    unit training budgets are actually written in. Docs are admitted
    in deterministic md5 priority order until the source's running
    token total would exceed the budget (first overflowing doc is
    excluded; a doc larger than the whole budget never sneaks in).

    Same shape as source_quota: one shuffle on source, partition-local
    window cumsum — adding the token dimension costs nothing extra.
    Selection is a pure function of the data: stable across runs,
    engines, cluster sizes, and incremental re-runs."""
    from geist_spark.operators.dedup import tokens

    n_tok = F.size(tokens(F.col(text_col)))
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        documents.withColumn("__n_tok", n_tok)
        .withColumn("__cum", F.sum("__n_tok").over(w))
        .filter(F.col("__cum") <= budget_tokens)
        .drop("__n_tok", "__cum")
    )


def bloom_semi_join(
    df: DataFrame,
    keys: DataFrame,
    left_key: str,
    right_key: str,
    how: str = "semi",
    m_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> DataFrame:
    """Semi/anti join where the key-set side is too large to broadcast
    raw but its constant-size bloom image is not: probe the image in
    codegen first, then exact-confirm ONLY the candidate fraction with
    a real left_semi/left_anti join. Output is exact — the bloom can
    only over-admit candidates (false positives), and the confirm join
    removes them.

    Why it matters at 100 TB: a plain semi join against a large key
    set shuffles BOTH sides on the key. Here the non-candidate rows
    (the vast majority when the match rate is low: blocklists,
    tombstones, already-processed ids) never enter the shuffle at all:

      semi: candidates = rows the bloom admits -> confirm left_semi
      anti: rows the bloom REJECTS are definite non-members (no false
            negatives) and pass through with zero join work; only the
            admitted sliver pays the left_anti confirm.
    """
    if how not in ("semi", "anti"):
        raise ValueError(f"how must be semi or anti, got: {how}")
    # the bloom hashes the STRING form of the key on both sides, so
    # bigint keys probe consistently regardless of engine coercions
    skeys = keys.select(F.col(right_key).cast("string").alias(right_key))
    image = bloom_build(skeys, right_key, m_bits=m_bits, num_hashes=num_hashes)
    probed = df.join(F.broadcast(image)).withColumn(
        "__might",
        bloom_might_contain(
            F.col("words"), F.col(left_key).cast("string"), m_bits, num_hashes
        ),
    )
    rk = keys.select(right_key).distinct()
    if how == "semi":
        cand = probed.filter(F.col("__might")).drop("words", "__might")
        return cand.join(
            rk, cand[left_key] == rk[right_key], "left_semi"
        )
    definite_out = probed.filter(~F.col("__might")).drop("words", "__might")
    maybe = probed.filter(F.col("__might")).drop("words", "__might")
    confirmed_out = maybe.join(
        rk, maybe[left_key] == rk[right_key], "left_anti"
    )
    return definite_out.unionByName(confirmed_out)


def threshold_sweep(
    df: DataFrame,
    metric_col: str,
    group_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Filter-tuning curve in ONE pass: for every (group, threshold)
    pair, how many rows and how much metric mass survive
    `metric >= threshold`. Choosing a corpus quality cutoff by
    re-running the filter per candidate value costs a scan each; this
    explodes the (tiny) threshold list against the rows map-side, so
    the whole sweep is one scan + one (groups x thresholds)-sized
    aggregate."""
    thr = F.explode(
        F.array(*[F.lit(float(t)) for t in thresholds])
    ).alias("threshold")
    exploded = df.select(
        F.col(group_col), F.col(metric_col).cast("double").alias("__m"), thr
    )
    return (
        exploded.filter(F.col("__m") >= F.col("threshold"))
        .groupBy(group_col, "threshold")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("__m").cast("decimal(38,6)"))
            .cast("double")
            .alias("metric_mass"),
        )
    )


def corpus_datasheet(documents: DataFrame) -> DataFrame:
    """Corpus datasheet ("data card") in long format: global totals
    plus per-language and per-source breakdowns, computed in ONE scan
    via GROUPING SETS ((), (lang), (source)) — one shuffle carries all
    three grains as partial aggregates, where three separate
    aggregations would re-read 100 TB three times.

    Output rows: (metric, dimension, n_docs, n_tokens, n_chars,
    n_distinct_texts). metric is 'all' | 'lang' | 'source';
    n_distinct_texts at the 'all' grain exposes the exact-dup count
    without a second job (count_distinct of md5 — exact by design, a
    datasheet is an audit artifact).
    """
    from geist_spark.operators.dedup import tokens

    base = documents.select(
        "lang",
        "source",
        F.size(tokens(F.col("text"))).alias("__tok"),
        F.length("text").alias("__chr"),
        F.md5(F.col("text")).alias("__h"),
    )
    gs = base.groupingSets(
        [[], [F.col("lang")], [F.col("source")]], "lang", "source"
    ).agg(
        F.grouping("lang").alias("__g_lang"),
        F.grouping("source").alias("__g_source"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").alias("n_tokens"),
        F.sum("__chr").alias("n_chars"),
        F.count_distinct(F.col("__h")).alias("n_distinct_texts"),
    )
    # classify by GROUPING membership, not by value nullness: a data
    # row with lang=NULL (common in crawl corpora) must land in the
    # 'lang' breakdown as dimension '<null>', never masquerade as the
    # global-totals row
    metric = (
        F.when(F.col("__g_lang") == 0, F.lit("lang"))
        .when(F.col("__g_source") == 0, F.lit("source"))
        .otherwise(F.lit("all"))
    )
    dim = (
        F.when(F.col("__g_lang") == 0, F.coalesce(F.col("lang"), F.lit("<null>")))
        .when(
            F.col("__g_source") == 0,
            F.coalesce(F.col("source"), F.lit("<null>")),
        )
        .otherwise(F.lit("*"))
    )
    return gs.select(
        metric.alias("metric"),
        dim.alias("dimension"),
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_distinct_texts",
    )


def datasheet_diff(
    old_docs: DataFrame, new_docs: DataFrame
) -> DataFrame:
    """Corpus-version drift report: both datasheets (one scan each),
    full-outer joined on (metric, dimension) — the join runs over the
    datasheet rows (per-dimension metadata), so comparing two 100 TB
    corpus versions costs two scans and a metadata join. Rows where
    nothing changed are kept (delta 0) so the report is a complete
    audit artifact, not just the diff."""
    a = corpus_datasheet(old_docs).select(
        "metric",
        "dimension",
        F.col("n_docs").alias("old_docs"),
        F.col("n_tokens").alias("old_tokens"),
    )
    b = corpus_datasheet(new_docs).select(
        "metric",
        "dimension",
        F.col("n_docs").alias("new_docs"),
        F.col("n_tokens").alias("new_tokens"),
    )
    j = a.join(b, ["metric", "dimension"], "full_outer")
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    return j.select(
        "metric",
        "dimension",
        z("old_docs").alias("old_docs"),
        z("new_docs").alias("new_docs"),
        (z("new_docs") - z("old_docs")).alias("docs_delta"),
        (z("new_tokens") - z("old_tokens")).alias("tokens_delta"),
    )


def curriculum_interleave(
    documents: DataFrame,
    difficulty_col: str = "n_tokens",
    n_buckets: int = 10,
    bucket_width: int = 32,
) -> DataFrame:
    """Curriculum training order WITHOUT a global sort: bucket docs by
    a difficulty proxy, then compute each doc's global interleaved
    position arithmetically. The schedule round-robins difficulty
    buckets (position order = step 1 of every bucket easiest-first,
    then step 2, ...), the standard mixing order that avoids feeding
    the model a long homogeneous difficulty block (curriculum
    learning, Bengio et al. 2009) while keeping easy docs dense early.

    The scale point: a naive `row_number() OVER (ORDER BY ...)` is a
    single-partition window — a driver-shaped bottleneck at corpus
    scale. Here the only window is PARTITIONED (per-bucket step), and
    the global position is derived from the per-bucket SIZE table
    (n_buckets rows, broadcast as an array):

        position = 1 + sum_j min(size_j, step-1)            -- earlier steps
                     + |{j < bucket : size_j >= step}|       -- same-step ties

    which is exactly the rank in the (step, bucket, doc-order) total
    order, in pure BIGINT arithmetic. Bucketing uses fixed integer
    widths (not ntile) so it needs no global window either; the last
    bucket absorbs the tail.

    Within a bucket, `step` orders by (difficulty, doc_id) — fully
    deterministic at any parallelism.

    Output: (doc_id, bucket, step, position), all BIGINT.
    """
    diff = F.col(difficulty_col).cast("bigint")
    # integer division (div), NOT float-divide-then-cast: Spark casts
    # double->bigint by truncation while DuckDB CAST rounds, so the
    # bucket edge would disagree between engine and oracle
    bucket = F.least(
        F.lit(n_buckets).cast("bigint"),
        F.lit(1)
        + F.expr(
            f"CAST({difficulty_col} AS BIGINT) div {int(bucket_width)}"
        ),
    ).cast("bigint")
    base = documents.select(
        F.col("doc_id"), diff.alias("__d"), bucket.alias("bucket")
    )
    w = Window.partitionBy("bucket").orderBy(
        F.col("__d").asc(), F.col("doc_id").asc()
    )
    stepped = base.withColumn("step", F.row_number().over(w).cast("bigint"))
    sizes = (
        stepped.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("bucket", "n"))
            ).alias("__sizes")
        )
    )
    pos = F.lit(1) + F.aggregate(
        F.col("__sizes"),
        F.lit(0).cast("bigint"),
        lambda acc, s: acc
        + F.least(s["n"], F.col("step") - 1)
        + F.when(
            (s["bucket"] < F.col("bucket")) & (s["n"] >= F.col("step")),
            F.lit(1).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return (
        stepped.crossJoin(F.broadcast(sizes))
        .select(
            "doc_id",
            "bucket",
            "step",
            pos.alias("position"),
        )
    )


CARD_CAND_RE = r"[0-9][0-9 -]{11,22}[0-9]"


def _luhn_valid(cand: F.Column) -> F.Column:
    """Luhn checksum over a candidate string's digits (ISO/IEC 7812):
    from the RIGHT, double every second digit (subtracting 9 above 9),
    valid iff the sum is 0 mod 10 and the digit count is a real PAN
    length (13-19). Pure array expressions — codegen, no UDF — and
    spelled identically in the DuckDB oracle."""
    digits = F.reverse(
        F.regexp_extract_all(cand, F.lit("[0-9]"), F.lit(0))
    )
    n = F.size(digits)
    total = F.aggregate(
        F.zip_with(
            digits,
            F.sequence(F.lit(0), n - 1),
            lambda d, i: F.struct(d.cast("int").alias("d"), i.alias("i")),
        ),
        F.lit(0),
        lambda acc, s: acc
        + F.when(s["i"] % 2 == 0, s["d"]).otherwise(
            F.when(s["d"] * 2 > 9, s["d"] * 2 - 9).otherwise(s["d"] * 2)
        ),
    )
    return (n >= 13) & (n <= 19) & (total % 10 == 0)


def credit_card_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Checksum-validated payment-card scrub: candidate digit runs
    (13-19 digits with optional space/dash grouping) are Luhn-checked
    before redaction, so order ids / phone-adjacent digit runs do NOT
    get scrubbed (the false-positive trap a bare regex PII pass has).
    Invalid candidates are counted but left in place.

    Valid candidates are folded out of the text with exact string
    replace (no regex re-scan per card). Map-only codegen — one pass
    at any corpus scale; the Luhn fold and the replace fold are both
    replayed exactly by the DuckDB oracle (list comprehensions +
    list_reduce).

    Known false-negative corridor (shared by regex-grammar scrubbers
    generally): digits ADJACENT to a card through the separator
    alphabet merge into one over-length candidate — '<valid PAN> 1234'
    scans as a single 20-digit run, fails the 13-19 gate, and the
    embedded card is NOT redacted. Splitting such runs correctly needs
    lookaround (absent from RE2, so the oracle could not replay it) or
    a position-scanning pass; route length-gate failures (n_candidates
    > n_valid_cards) to review instead of treating them as clean."""
    t = F.col(text_col)
    cands = F.regexp_extract_all(t, F.lit(CARD_CAND_RE), F.lit(0))
    staged = documents.select(
        "doc_id",
        t.alias("__t"),
        cands.alias("__cands"),
        F.filter(cands, _luhn_valid).alias("__valid"),
    )
    redacted = F.aggregate(
        F.col("__valid"),
        F.col("__t"),
        lambda acc, c: F.replace(acc, c, F.lit("<CARD>")),
    )
    return staged.select(
        "doc_id",
        F.size("__cands").alias("n_candidates"),
        F.size("__valid").alias("n_valid_cards"),
        redacted.alias("redacted_text"),
    )


DECOMPRESS_SCHEMA_DDL = "doc_id long, text string, byte_len long"


def decompress_text(
    documents: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_bytes: int = 64 * 1024 * 1024,
    on_unsupported: str = "error",
) -> DataFrame:
    """Transparent text decompression for compressed crawl payloads:
    gzip (magic 1f 8b, multi-member concatenation handled), zlib
    (0x78 family), bzip2 ("BZh", multi-stream pbzip2 output handled),
    xz ("\\xfd7zXZ", multi-stream + stream padding), zstd (magic 28
    b5 2f fd, multi-frame + skippable frames, content checksums
    verified), LZ4 frames (magic 04 22 4d 18, linked or independent
    blocks, block/content checksums verified) and framed Snappy
    (sNaPpY stream, masked CRC-32C verified) — all inside the decoder
    family's one Arrow stage — zero shuffle, partitioning preserved.
    Every codec but gzip/zlib is decoded by operators/lzcodecs.py
    (pyarrow's native zstd/LZ4/Snappy, the bounded stdlib bz2/xz
    stream walk). Returns (id, text utf-8 with
    U+FFFD for invalid bytes, byte_len of the DECOMPRESSED payload).

    Two-tier errors (operators/records.py; 1:1 NULL shape): unknown
    magic (brotli — its mandatory 120 KB static dictionary is not
    reproducible from spec) and dictionary-keyed zstd/LZ4 frames are
    capability limits; corrupt streams are malformed. Every codec's
    output is BOUNDED at max_bytes (a decompression bomb raises the
    typed malformed error, never OOMs the executor — the PNG IDAT
    rule)."""
    import zlib

    from geist_spark.operators import lzcodecs

    if max_bytes <= 0:
        raise ValueError("max_bytes must be positive")

    def inflate(b: bytes) -> bytes:
        parts, data, budget = [], b, max_bytes
        wbits = 31 if b[:2] == b"\x1f\x8b" else 15
        while data:
            d = zlib.decompressobj(wbits=wbits)
            try:
                chunk = d.decompress(data, budget + 1)
            except zlib.error as exc:
                raise ValueError(f"malformed compressed payload: {exc}") from None
            parts.append(chunk)
            budget -= len(chunk)
            if budget < 0:
                raise ValueError(
                    f"compressed payload inflates past max_bytes={max_bytes}"
                )
            if d.unconsumed_tail:
                raise ValueError(
                    f"compressed payload inflates past max_bytes={max_bytes}"
                )
            if not d.eof:
                raise ValueError("truncated compressed payload")
            data = d.unused_data  # gzip: next member; zlib: trailing
            if wbits == 15 and data:
                raise ValueError("trailing garbage after zlib stream")
        return b"".join(parts)

    def decode(b: bytes) -> list:
        # zlib sniff per RFC 1950: compression method 8 in the CMF low
        # nibble AND the FCHECK checksum — first-byte-only matching
        # would route plain text starting with 'x' (0x78) into the
        # malformed tier
        is_zlib = (
            len(b) >= 2
            and (b[0] & 0x0F) == 8
            and ((b[0] << 8) | b[1]) % 31 == 0
        )
        is_bz2 = len(b) >= 4 and b[:3] == b"BZh" and 0x31 <= b[3] <= 0x39
        # zstd and LZ4 share skippable frames: branch on the magic of
        # the first real frame behind them; a skippable run with no LZ4
        # frame behind it goes to the zstd decoder (malformed when
        # nothing follows)
        skip = lzcodecs.skippable_prefix(b)
        is_lz4 = b[skip : skip + 4] == b"\x04\x22\x4d\x18"
        is_zstd = not is_lz4 and (
            b[:4] == b"\x28\xb5\x2f\xfd"
            or (
                len(b) >= 4
                and b[1:4] == b"\x2a\x4d\x18"
                and 0x50 <= b[0] <= 0x5F
            )
        )
        if b[:2] == b"\x1f\x8b" or is_zlib:
            raw = inflate(b)
        elif is_bz2:
            raw = lzcodecs.inflate_bx(b, "bz2", max_bytes)
        elif b[:6] == b"\xfd7zXZ\x00":
            raw = lzcodecs.inflate_bx(b, "xz", max_bytes)
        elif is_zstd:
            try:
                raw = lzcodecs.zstd_decompress(b, max_bytes=max_bytes)
            except NotImplementedError:
                raise NotImplementedError(
                    "zstd frame requires an external dictionary — pass "
                    "on_unsupported='null'"
                ) from None
        elif is_lz4:
            try:
                raw = lzcodecs.lz4_decompress(b, max_bytes=max_bytes)
            except NotImplementedError:
                raise NotImplementedError(
                    "LZ4 dictionary frame — pass on_unsupported='null'"
                ) from None
        elif b[:10] == lzcodecs.SNAPPY_STREAM_MAGIC:
            raw = lzcodecs.snappy_stream_decompress(b, max_bytes=max_bytes)
        else:
            raise NotImplementedError(
                "payload is not gzip, zlib, bzip2, xz, zstd, lz4 or framed "
                "snappy (brotli not in this environment) — pass "
                "on_unsupported='null'"
            )
        return [(raw.decode("utf-8", errors="replace"), len(raw))]

    return payload_stage(
        documents, decode, DECOMPRESS_SCHEMA_DDL, on_unsupported,
        in_col=payload_col, id_col=id_col,
    )


ARCHIVE_LIST_SCHEMA = (
    "file_id long, member_idx int, name string, size long, method string"
)
ARCHIVE_TEXT_SCHEMA = "file_id long, name string, text string, byte_len long"

_ZIP_METHODS = {0: "stored", 8: "deflate"}


def _zip_entries(b: bytes):
    """Walk a ZIP central directory (the authoritative member list,
    per APPNOTE): EOCD scan from the tail, then PK\\x01\\x02 entries.
    ZIP64 and encrypted members are typed capability limits;
    structural damage raises ValueError."""
    import struct

    tail = b[-65558:] if len(b) > 65558 else b
    i = tail.rfind(b"PK\x05\x06")
    if i < 0:
        raise ValueError("malformed ZIP: no end-of-central-directory")
    eocd = (len(b) - len(tail)) + i
    if eocd + 22 > len(b):
        raise ValueError("truncated ZIP end-of-central-directory")
    (n_total,) = struct.unpack_from("<H", b, eocd + 10)
    (cd_off,) = struct.unpack_from("<I", b, eocd + 16)
    if n_total == 0xFFFF or cd_off == 0xFFFFFFFF:
        raise NotImplementedError("ZIP64 archive unsupported")
    pos = cd_off
    for idx in range(n_total):
        if b[pos : pos + 4] != b"PK\x01\x02":
            raise ValueError(
                f"malformed ZIP: central entry {idx} signature"
            )
        if pos + 46 > len(b):
            raise ValueError("truncated ZIP central directory")
        (flags, method) = struct.unpack_from("<HH", b, pos + 8)
        (csize, usize) = struct.unpack_from("<II", b, pos + 20)
        (nlen, elen, clen) = struct.unpack_from("<HHH", b, pos + 28)
        (lho,) = struct.unpack_from("<I", b, pos + 42)
        name = b[pos + 46 : pos + 46 + nlen].decode(
            "utf-8", errors="replace"
        )
        yield {
            "idx": idx, "name": name, "flags": flags,
            "method": method, "csize": csize, "usize": usize,
            "lho": lho,
        }
        pos += 46 + nlen + elen + clen


def _zip_member_bytes(b: bytes, ent: dict, max_bytes: int) -> bytes:
    """Extract one ZIP member via its local header: stored copies,
    deflate inflates RAW (wbits=-15) bounded at max_bytes."""
    import struct
    import zlib

    if ent["flags"] & 0x1:
        raise NotImplementedError(
            f"encrypted ZIP member {ent['name']!r} unsupported"
        )
    if ent["method"] not in _ZIP_METHODS:
        raise NotImplementedError(
            f"ZIP compression method {ent['method']} unsupported "
            "(stored/deflate only)"
        )
    lho = ent["lho"]
    if b[lho : lho + 4] != b"PK\x03\x04":
        raise ValueError(
            f"malformed ZIP: local header of {ent['name']!r}"
        )
    nlen, elen = struct.unpack_from("<HH", b, lho + 26)
    start = lho + 30 + nlen + elen
    data = b[start : start + ent["csize"]]
    if len(data) < ent["csize"]:
        raise ValueError(f"truncated ZIP member {ent['name']!r}")
    if ent["usize"] > max_bytes:
        raise ValueError(
            f"ZIP member {ent['name']!r} inflates past "
            f"max_bytes={max_bytes}"
        )
    if ent["method"] == 0:
        if len(data) != ent["usize"]:
            raise ValueError(
                f"malformed ZIP: stored member {ent['name']!r} size"
            )
        return bytes(data)
    d = zlib.decompressobj(wbits=-15)
    try:
        out = d.decompress(data, ent["usize"] + 1)
    except zlib.error as exc:
        raise ValueError(
            f"malformed ZIP member {ent['name']!r}: {exc}"
        ) from None
    if len(out) != ent["usize"]:
        raise ValueError(
            f"malformed ZIP: member {ent['name']!r} inflates to "
            f"{len(out)} of {ent['usize']} bytes"
        )
    return out


def _tar_entries(b: bytes):
    """Walk USTAR 512-byte headers: yields (idx, name, size, typeflag,
    data_start). GNU long-name entries are a typed capability limit;
    a bad checksum or truncated data block raises ValueError."""
    pos, idx = 0, 0
    while pos + 512 <= len(b):
        hdr = b[pos : pos + 512]
        if hdr == b"\x00" * 512:
            return
        name = hdr[:100].split(b"\x00")[0].decode(
            "utf-8", errors="replace"
        )
        try:
            size = int(hdr[124:136].split(b"\x00")[0].strip() or b"0", 8)
        except ValueError:
            raise ValueError(
                f"malformed TAR: size field of {name!r}"
            ) from None
        typ = hdr[156:157]
        if typ in (b"L", b"K"):
            raise NotImplementedError(
                "GNU long-name TAR entries unsupported"
            )
        chk_stored = hdr[148:156]
        try:
            chk = int(chk_stored.split(b"\x00")[0].strip() or b"0", 8)
        except ValueError:
            raise ValueError("malformed TAR: checksum field") from None
        calc = sum(hdr[:148]) + 8 * 32 + sum(hdr[156:])
        if chk != calc:
            raise ValueError(f"malformed TAR: checksum of {name!r}")
        data_start = pos + 512
        if data_start + size > len(b):
            raise ValueError(f"truncated TAR member {name!r}")
        yield idx, name, size, typ, data_start
        idx += 1
        pos = data_start + ((size + 511) // 512) * 512


def _archive_members(b: bytes, max_bytes: int):
    """Dispatch ZIP / TAR / gzipped-TAR; yields
    (idx, name, size, method, get_bytes callable)."""
    import zlib

    if b[:4] in (b"PK\x03\x04", b"PK\x05\x06"):
        for ent in _zip_entries(b):
            if ent["name"].endswith("/"):
                continue  # directory entries
            yield (
                ent["idx"], ent["name"], ent["usize"],
                _ZIP_METHODS.get(ent["method"], str(ent["method"])),
                (lambda e=ent: _zip_member_bytes(b, e, max_bytes)),
            )
        return
    if b[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            raw = d.decompress(b, max_bytes + 1)
        except zlib.error as exc:
            raise ValueError(f"malformed gzip wrapper: {exc}") from None
        if len(raw) > max_bytes:
            raise ValueError(
                f"archive inflates past max_bytes={max_bytes}"
            )
        b = raw
    if len(b) >= 512 and b[257:262] == b"ustar":
        for idx, name, size, typ, start in _tar_entries(b):
            if typ not in (b"0", b"\x00"):
                continue  # dirs/links: listed implicitly skipped
            data = b  # bind
            yield (
                idx, name, size, "tar",
                (lambda s=start, n=size: bytes(data[s : s + n])),
            )
        return
    raise NotImplementedError(
        "not a ZIP, TAR or gzipped-TAR payload"
    )


def archive_list(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
    max_bytes: int = 64 * 1024 * 1024,
    on_unsupported: str = "error",
) -> DataFrame:
    """Enumerate archive members WITHOUT extraction — crawl corpora
    arrive as zip/tar(.gz) dumps, and member manifests (names,
    sizes, methods) drive routing and budgeting before any bytes
    decompress. ZIP walks the central directory only; TAR walks
    512-byte headers (gzip wrapper inflated bounded). The usual
    two-tier contract: foreign magic is a capability limit
    (ZIP64/encrypted/GNU-longname are typed limits too), structural
    damage raises. Map-only Arrow stage."""
    return payload_stage(
        files,
        lambda b: [m[:4] for m in _archive_members(b, max_bytes)],
        ARCHIVE_LIST_SCHEMA, on_unsupported, in_col=payload_col,
        id_col=id_col, null_row=False,
    )


def archive_extract_text(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
    max_bytes: int = 64 * 1024 * 1024,
    suffixes: tuple = (".txt", ".json", ".jsonl", ".md", ".csv"),
    on_unsupported: str = "error",
) -> DataFrame:
    """Extract text-like members (by suffix) from zip/tar(.gz)
    archives: stored/deflate ZIP members and TAR file entries,
    every inflate bounded at max_bytes, utf-8 with U+FFFD. One
    Arrow stage; member fan-out happens inside the batch (the WARC
    record-fan-out shape)."""

    def decode(b: bytes) -> list:
        rows = []
        for _idx, name, _size, _method, get in _archive_members(b, max_bytes):
            if name.lower().endswith(suffixes):
                raw = get()
                rows.append(
                    (name, raw.decode("utf-8", errors="replace"), len(raw))
                )
        return rows

    return payload_stage(
        files, decode, ARCHIVE_TEXT_SCHEMA, on_unsupported,
        in_col=payload_col, id_col=id_col, null_row=False,
    )
